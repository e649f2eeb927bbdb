"""The dbt-shaped project that ``project_build`` rebuilds, and its answers.

Twelve nodes over the TPC-H-shaped sources: a seed, three staging views, two
joined fact tables (one partitioned by order month, ~80 partitions), a
``dialect: trino`` model, two incremental models (merge into year
partitions, delete+insert), a materialized view, a check-strategy snapshot
and an aggregate over the seed. Four tests are attached to the fact tables,
and one post-hook runs through the connection layer. ``duck_sql`` gives
each node's answer as DuckDB SQL over the same generated parquet.
"""

from __future__ import annotations

import re

from dbt_extrica_spark.plans.model import Model, Project

SEGMENT_CSV = ("segment,target_share\n"
               "AUTOMOBILE,0.2\nBUILDING,0.25\nFURNITURE,0.15\n"
               "HOUSEHOLD,0.3\nMACHINERY,0.1\n")

_REVENUE = "l.l_extendedprice * (1 - l.l_discount)"

# node -> SELECT whose rows the built relation must hold
_SQL = {
    "stg_orders": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority,
               date_format(o_orderdate, 'yyyy-MM') AS order_month
        FROM {source:orders}""",
    "stg_lineitem": """
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
               l_extendedprice, l_discount, l_shipdate
        FROM {source:lineitem}""",
    "stg_customer": """
        SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal,
               n.n_name AS nation
        FROM {source:customer} c
        JOIN {source:nation} n ON c.c_nationkey = n.n_nationkey""",
    "fct_order_lines": f"""
        SELECT o.o_orderkey, l.l_linenumber, o.o_custkey, c.c_mktsegment,
               c.nation, o.order_month, {_REVENUE} AS revenue
        FROM {{ref:stg_orders}} o
        JOIN {{ref:stg_lineitem}} l ON l.l_orderkey = o.o_orderkey
        JOIN {{ref:stg_customer}} c ON c.c_custkey = o.o_custkey""",
    "fct_orders_monthly": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               order_month
        FROM {ref:stg_orders}""",
    "seg_revenue": """
        SELECT f.c_mktsegment, t.target_share, count(*) AS n_lines,
               round(sum(f.revenue), 2) AS revenue
        FROM {ref:fct_order_lines} f
        JOIN {ref:segment_targets} t ON t.segment = f.c_mktsegment
        GROUP BY f.c_mktsegment, t.target_share""",
    # Trino body: date_diff / strpos / approx_distinct are rewritten by
    # functions.dialect before Spark sees them
    "trino_ship_delay": f"""
        SELECT c.c_mktsegment AS segment, count(*) AS n_lines,
               sum(date_diff('day', o.o_orderdate, l.l_shipdate))
                 AS ship_days,
               max(strpos(c.c_name, '#')) AS hash_pos,
               approx_distinct(o.o_custkey) AS approx_customers
        FROM {{ref:stg_orders}} o
        JOIN {{ref:stg_lineitem}} l ON l.l_orderkey = o.o_orderkey
        JOIN {{ref:stg_customer}} c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment""",
    # merge into year partitions (the partition-scoped rewrite) ...
    "inc_orders": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, year(o_orderdate) AS order_year
        FROM {ref:stg_orders}
        {is_incremental:WHERE o_orderdate >= (SELECT max(o_orderdate)
                          FROM {this}) - INTERVAL 90 DAYS}""",
    # ... and delete+insert into an unpartitioned table (stage and swap)
    "inc_orders_di": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate
        FROM {ref:stg_orders}
        {is_incremental:WHERE o_orderdate >= (SELECT max(o_orderdate)
                          FROM {this}) - INTERVAL 90 DAYS}""",
    "mv_nation_revenue": """
        SELECT nation, count(*) AS n_lines, round(sum(revenue), 2) AS revenue
        FROM {ref:fct_order_lines} GROUP BY nation""",
    "snap_customer": """
        SELECT c_custkey, c_mktsegment, c_acctbal FROM {ref:stg_customer}""",
}


def build(schema: str) -> Project:
    """The project, with test specs resolved against ``schema``."""
    def tbl(name: str) -> str:
        return f"{schema}.{name}"

    cfg = {
        "segment_targets": {"materialized": "seed"},
        "stg_orders": {"materialized": "view"},
        "stg_lineitem": {"materialized": "view"},
        "stg_customer": {"materialized": "view"},
        "fct_order_lines": {
            "materialized": "table",
            "tests": [{"check": "not_null", "column": "revenue"},
                      {"check": "relationships", "column": "o_custkey",
                       "to_table": tbl("stg_customer"),
                       "to_column": "c_custkey"}]},
        "fct_orders_monthly": {
            "materialized": "table", "partition_by": ["order_month"],
            "tests": [{"check": "unique", "column": "o_orderkey"},
                      {"check": "accepted_values", "column": "o_orderstatus",
                       "values": ["F", "O", "P"]}]},
        "seg_revenue": {"materialized": "table"},
        "trino_ship_delay": {"materialized": "table", "dialect": "trino"},
        "inc_orders": {"materialized": "incremental",
                       "incremental_strategy": "merge",
                       "unique_key": "o_orderkey",
                       "partition_by": ["order_year"]},
        "inc_orders_di": {"materialized": "incremental",
                          "incremental_strategy": "delete+insert",
                          "unique_key": "o_orderkey"},
        "mv_nation_revenue": {"materialized": "materialized_view"},
        "snap_customer": {"materialized": "snapshot", "strategy": "check",
                          "unique_key": "c_custkey",
                          "check_cols": ["c_mktsegment", "c_acctbal"],
                          "depends_on": ["stg_customer"]},
    }
    models = [Model("segment_targets", sql=SEGMENT_CSV,
                    config=cfg["segment_targets"])]
    models += [Model(name, sql=sql, config=cfg[name])
               for name, sql in _SQL.items()]
    # size statistics for the planner, refreshed the way a post-hook would
    fct = next(m for m in models if m.name == "fct_order_lines")
    fct.post_hooks = [
        f"ANALYZE TABLE {tbl(fct.name)} COMPUTE STATISTICS NOSCAN"]
    return Project(models)


# --------------------------------------------------------------------------
# answers
# --------------------------------------------------------------------------

_INCR = re.compile(r"\{is_incremental:.*?\}", re.DOTALL)


def duck_sql(name: str) -> str:
    """The node's SELECT for DuckDB over views named like the sources and
    nodes: refs/sources become plain names, the incremental filter goes
    (a first build has none), and the two spellings DuckDB lacks are
    renamed."""
    sql = _INCR.sub("", _SQL[name].replace("{this}", name))
    sql = re.sub(r"\{(?:source|ref):(\w+)\}", r"\1", sql)
    return (sql.replace("date_format(o_orderdate, 'yyyy-MM')",
                        "strftime(o_orderdate, '%Y-%m')")
            .replace("approx_distinct(", "approx_count_distinct("))


NODES = ["segment_targets", *_SQL]

# node -> (key column or None, checksum expression). Each node is checked
# as (rows, distinct keys, checksum) in both engines.
CHECKS = {
    "segment_targets": ("segment", "sum(target_share)"),
    "stg_orders": ("o_orderkey", "sum(o_orderkey)"),
    "stg_lineitem": (None, "sum(l_orderkey * 8 + l_linenumber)"),
    "stg_customer": ("c_custkey", "sum(c_acctbal)"),
    "fct_order_lines": (None, "sum(revenue)"),
    "fct_orders_monthly": ("o_orderkey", "sum(o_totalprice)"),
    "seg_revenue": ("c_mktsegment", "sum(revenue)"),
    "trino_ship_delay": ("segment", "sum(ship_days) * 100 + max(hash_pos)"),
    "inc_orders": ("o_orderkey", "sum(o_totalprice)"),
    "inc_orders_di": ("o_orderkey", "sum(o_totalprice)"),
    "mv_nation_revenue": ("nation", "sum(revenue)"),
    # current versions only: one per key, every key present
    "snap_customer": ("c_custkey", "sum(c_acctbal)"),
}

# the Spark side of the snapshot check reads its current rows
SPARK_FILTER = {"snap_customer": "WHERE dbt_valid_to IS NULL"}
SNAPSHOT_META = {"dbt_scd_id", "dbt_updated_at", "dbt_valid_from",
                 "dbt_valid_to"}
