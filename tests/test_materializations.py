"""Materialization e2e behavior: edge branches not covered by the oracle
battery (occupant types, full refresh, contracts, schema-change modes,
grants/comments bookkeeping)."""

import time

import pytest

from dbt_extrica_spark import Model
from dbt_extrica_spark.errors import CompilationError, DatabaseError
from pyspark.sql import functions as F


def test_table_drop_mode(engine):
    m = Model("t_drop", sql="SELECT 1 AS a",
              config={"materialized": "table", "on_table_exists": "drop"})
    engine.materialize(m)
    engine.materialize(m)
    assert engine.table("t_drop").count() == 1


def test_table_invalid_mode_raises(engine):
    with pytest.raises(CompilationError):
        engine.materialize(Model("t_bad", sql="SELECT 1 AS a",
                                 config={"materialized": "table",
                                         "on_table_exists": "nope"}))


def test_table_replaces_view_occupant(engine):
    engine.materialize(Model("occ", sql="SELECT 1 AS a",
                             config={"materialized": "view"}))
    engine.materialize(Model("occ", sql="SELECT 2 AS a",
                             config={"materialized": "table"}))
    rel = engine.catalog.get_relation(engine.relation("occ"))
    assert rel.is_table
    assert engine.table("occ").collect()[0].a == 2


def test_view_over_table_requires_full_refresh(engine):
    engine.materialize(Model("vocc", sql="SELECT 1 AS a",
                             config={"materialized": "table"}))
    with pytest.raises(DatabaseError):
        engine.materialize(Model("vocc", sql="SELECT 2 AS a",
                                 config={"materialized": "view"}))
    engine.materialize(Model("vocc", sql="SELECT 2 AS a",
                             config={"materialized": "view"}),
                       full_refresh=True)
    assert engine.catalog.get_relation(engine.relation("vocc")).is_view


def test_view_security_validated(engine):
    with pytest.raises(CompilationError):
        engine.materialize(Model("vsec", sql="SELECT 1 AS a",
                                 config={"materialized": "view",
                                         "view_security": "bogus"}))


def test_contract_column_mismatch_raises(engine):
    with pytest.raises(CompilationError):
        engine.materialize(Model(
            "c_bad", sql="SELECT 1 AS x, 2 AS y",
            config={"materialized": "table",
                    "contract": {"enforced": True},
                    "contract_columns": [{"name": "x", "data_type": "int"},
                                         {"name": "z", "data_type": "int"}]},
        ))


def test_not_null_enforcement(engine):
    # A35: not_null is ENFORCED (reference: impl.py:31-37)
    with pytest.raises(DatabaseError):
        engine.materialize(Model(
            "c_nn", sql="SELECT CAST(NULL AS INT) AS x",
            config={"materialized": "table",
                    "contract": {"enforced": True},
                    "contract_columns": [
                        {"name": "x", "data_type": "int",
                         "constraints": [{"type": "not_null"}]}]},
        ))


def test_incremental_full_refresh(engine):
    cfg = {"materialized": "incremental", "incremental_strategy": "append"}
    engine.materialize(Model("ifr", sql="SELECT 1 AS a", config=cfg))
    engine.materialize(Model("ifr", sql="SELECT 2 AS a", config=cfg),
                       full_refresh=True)
    rows = engine.table("ifr").collect()
    assert [r.a for r in rows] == [2]


def test_incremental_invalid_strategy(engine):
    with pytest.raises(CompilationError):
        engine.materialize(Model("ibad", sql="SELECT 1 AS a",
                                 config={"materialized": "incremental",
                                         "incremental_strategy": "upsert"}))


def test_incremental_schema_change_fail_mode(engine):
    cfg1 = {"materialized": "incremental", "incremental_strategy": "append"}
    engine.materialize(Model("isc", sql="SELECT 1 AS a", config=cfg1))
    with pytest.raises(CompilationError):
        engine.materialize(Model(
            "isc", sql="SELECT 1 AS a, 2 AS b",
            config={**cfg1, "on_schema_change": "fail"},
        ))


def test_incremental_sync_all_columns(engine):
    cfg = {"materialized": "incremental", "incremental_strategy": "append"}
    engine.materialize(Model("isync", sql="SELECT 1 AS a, 2 AS b", config=cfg))
    engine.materialize(Model(
        "isync", sql="SELECT 10 AS a, 'x' AS c",
        config={**cfg, "on_schema_change": "sync_all_columns"},
    ))
    df = engine.table("isync")
    assert sorted(df.columns) == ["a", "c"]
    assert df.count() == 2


def test_merge_exclude_columns(engine):
    from dbt_extrica_spark.operators.merge import get_merge_update_columns

    assert get_merge_update_columns(None, ["b"], ["a", "b", "c"]) == ["a", "c"]
    assert get_merge_update_columns(["a"], None, ["a", "b"]) == ["a"]
    with pytest.raises(ValueError):
        get_merge_update_columns(["a"], ["b"], ["a", "b"])


def test_delete_insert_with_predicates(engine):
    cfg = {"materialized": "incremental",
           "incremental_strategy": "delete+insert",
           "unique_key": ["k"]}
    engine.materialize(Model(
        "dip", sql="SELECT k, v FROM VALUES (1, 'old'), (2, 'keep') AS t(k, v)",
        config=cfg))
    # predicate restricts the delete to v='old' rows only
    engine.materialize(Model(
        "dip", sql="SELECT k, v FROM VALUES (1, 'new'), (2, 'new2') AS t(k, v)",
        config={**cfg, "incremental_predicates": ["v = 'old'"]}))
    rows = {(r.k, r.v) for r in engine.table("dip").collect()}
    # k=1 'old' deleted+reinserted; k=2 'keep' survives (predicate false),
    # plus the new k=2 row appended
    assert rows == {(1, "new"), (2, "keep"), (2, "new2")}


def test_mv_requires_definition_for_refresh(engine):
    with pytest.raises(DatabaseError):
        engine.refresh_materialized_view("not_an_mv")


def test_grants_registry(engine):
    engine.materialize(Model(
        "gt", sql="SELECT 1 AS a",
        config={"materialized": "table",
                "grants": {"select": ["alice", "bob"]}},
    ))
    got = engine.catalog.show_grants(engine.relation("gt"))
    assert got == {"select": {"alice", "bob"}}


def test_comments_persist(engine):
    engine.materialize(Model(
        "ct", sql="SELECT 1 AS a", description="my table docs",
        config={"materialized": "table", "persist_docs": True},
    ))
    assert engine.catalog.get_relation_comment(
        engine.relation("ct")) == "my table docs"


def test_rename_view_via_registry(engine):
    engine.materialize(Model("rv", sql="SELECT 5 AS a",
                             config={"materialized": "view"}))
    engine.catalog.rename_relation(engine.relation("rv"),
                                   engine.relation("rv2"))
    assert engine.table("rv2").collect()[0].a == 5
    assert engine.catalog.get_relation(engine.relation("rv")) is None


def test_alter_column_type(engine):
    engine.materialize(Model("act", sql="SELECT 1 AS a, 'x' AS b",
                             config={"materialized": "table"}))
    engine.catalog.alter_column_type(engine.relation("act"), "a", "double")
    assert dict(engine.table("act").dtypes)["a"] == "double"


def test_char_size_roundtrip_through_ddl(engine):
    """varchar(n)/char(n) sizes survive describe -> DDL rewrite ->
    describe (reference keeps sizes through describe, column.py:62-109)."""
    rel = engine.relation("cs_rt")
    engine.spark.sql(f"DROP TABLE IF EXISTS {rel.render()}")
    engine.spark.sql(
        f"CREATE TABLE {rel.render()} "
        f"(a VARCHAR(8), b CHAR(3), c STRING, d INT) USING PARQUET"
    )
    cols = {c.name: c for c in engine.catalog.get_columns_in_relation(rel)}
    assert cols["a"].char_size == 8 and cols["a"].data_type == "varchar(8)"
    assert cols["b"].char_size == 3 and cols["b"].data_type == "char(3)"
    # a table rewrite (cast path) keeps the untouched sizes
    engine.catalog.alter_column_type(rel, "d", "bigint")
    cols = {c.name: c for c in engine.catalog.get_columns_in_relation(rel)}
    assert cols["a"].data_type == "varchar(8)"
    assert cols["b"].data_type == "char(3)"
    # widening to a larger varchar keeps the NEW declared size (Spark CAST
    # would erase it; the declared-schema rewrite must not)
    engine.catalog.alter_column_type(rel, "a", "varchar(16)")
    cols = {c.name: c for c in engine.catalog.get_columns_in_relation(rel)}
    assert cols["a"].data_type == "varchar(16)"


def test_expand_target_column_types_widens_varchar(engine):
    src, tgt = engine.relation("cs_src"), engine.relation("cs_tgt")
    for r in (src, tgt):
        engine.spark.sql(f"DROP TABLE IF EXISTS {r.render()}")
    engine.spark.sql(
        f"CREATE TABLE {src.render()} (a VARCHAR(16), b STRING) USING PARQUET")
    engine.spark.sql(
        f"CREATE TABLE {tgt.render()} (a VARCHAR(8), b VARCHAR(4)) USING PARQUET")
    engine.catalog.expand_target_column_types(src, tgt)
    cols = {c.name: c for c in engine.catalog.get_columns_in_relation(tgt)}
    assert cols["a"].data_type == "varchar(16)"
    assert cols["b"].data_type == "string"  # unbounded source -> unbounded


def test_get_catalog(engine):
    engine.materialize(Model("cat_t", sql="SELECT 1 AS a, 'x' AS b",
                             config={"materialized": "table"}))
    df = engine.catalog.get_catalog([engine.schema])
    rows = [r for r in df.collect() if r.table_name == "cat_t"]
    assert [r.column_name for r in rows] == ["a", "b"]
    assert rows[0].table_type == "TABLE"


def test_drop_schema_cascade(spark):
    from dbt_extrica_spark import Engine

    eng = Engine(spark)
    eng.materialize(Model("x1", sql="SELECT 1 AS a",
                          config={"materialized": "table"}))
    schema = eng.schema
    eng.close()
    assert not spark.catalog.databaseExists(schema)


def test_project_runner(engine):
    from dbt_extrica_spark.plans.model import Project
    from dbt_extrica_spark.plans.runner import run_project

    models = [
        Model("base_m", sql="SELECT o_orderkey AS k FROM {source:orders}"
              " WHERE o_orderkey <= 100", config={"materialized": "table"}),
        Model("dep_m", sql="SELECT COUNT(*) AS n FROM {ref:base_m}",
              config={"materialized": "table"}),
        Model("other_m", sql="SELECT 1 AS one",
              config={"materialized": "view"}),
    ]
    project = Project(models)
    levels = project.topo_order()
    assert levels[0] == ["base_m", "other_m"] and levels[1] == ["dep_m"]
    results = run_project(engine, project, threads=2)
    assert engine.table("dep_m").collect()[0].n == \
        engine.table("base_m").count()
    assert set(results) == {"base_m", "dep_m", "other_m"}


def test_build_project_orders_and_gates(engine):
    """dbt build semantics: seed -> models (+ attached tests) -> snapshot;
    an error-severity test failure skips every transitive downstream model
    and dependent snapshot; a warn-severity failure gates nothing."""
    from dbt_extrica_spark.plans.model import Project
    from dbt_extrica_spark.plans.runner import build_project

    models = [
        Model("b_base", config={"materialized": "table",
                                "tests": [{"check": "unique", "column": "k"},
                                          {"check": "not_null",
                                           "column": "v",
                                           "severity": "warn"}]},
              sql="SELECT k, v FROM {ref:b_seed}"),
        # b_base's unique test FAILS (seed has dup k) -> b_mid and b_leaf
        # skipped transitively; b_other is independent -> runs
        Model("b_mid", sql="SELECT COUNT(*) AS n FROM {ref:b_base}",
              config={"materialized": "table"}),
        Model("b_leaf", sql="SELECT n + 1 AS n2 FROM {ref:b_mid}",
              config={"materialized": "view"}),
        Model("b_other", sql="SELECT 1 AS one",
              config={"materialized": "table"}),
    ]
    seeds = [{"name": "b_seed",
              "csv_text": "k,v\n1,10\n1,20\n2,"}]  # dup k=1, NULL v
    snapshots = [
        {"name": "b_snap_gated", "unique_key": "k",
         "source_sql": "SELECT k, v, TIMESTAMP '2024-01-01' AS u"
                       " FROM {ref:b_base}",
         "updated_at": "u"},
        {"name": "b_snap_ok", "unique_key": "one",
         "source_sql": "SELECT one, TIMESTAMP '2024-01-01' AS u"
                       " FROM {ref:b_other}",
         "updated_at": "u"},
    ]
    report = build_project(engine, Project(models), seeds=seeds,
                           snapshots=snapshots, threads=2)
    got = {(r.node_type, r.name): r.status for r in report.collect()}
    assert got[("seed", "b_seed")] == "success"
    assert got[("model", "b_base")] == "success"
    tbl = engine.relation("b_base").render_unquoted()
    assert got[("test", f"unique:{tbl}.k")] == "error"
    assert got[("test", f"not_null:{tbl}.v")] == "warn"
    assert got[("model", "b_mid")] == "skip"
    assert got[("model", "b_leaf")] == "skip"   # transitive
    assert got[("model", "b_other")] == "success"
    assert got[("snapshot", "b_snap_gated")] == "skip"
    assert got[("snapshot", "b_snap_ok")] == "success"
    # gated nodes never materialized; passing branch did
    assert engine.catalog.get_relation(engine.relation("b_mid")) is None
    assert engine.table("b_snap_ok").count() == 1


def test_table_file_format_and_properties(engine):
    engine.materialize(Model(
        "fmt_t", sql="SELECT 1 AS a, 'x' AS b",
        config={"materialized": "table", "file_format": "orc",
                "properties": {"owner_team": "data-eng"}},
    ))
    assert engine.table("fmt_t").count() == 1
    detail = engine.spark.sql(
        f"DESCRIBE TABLE EXTENDED {engine.relation('fmt_t').render()}"
    ).collect()
    blob = "\n".join(f"{r.col_name}={r.data_type}" for r in detail)
    assert "orc" in blob.lower()
    assert "owner_team" in blob


def test_multi_format_sources(engine, tmp_path):
    from dbt_extrica_spark.sources.registry import read_table

    csv = tmp_path / "src.csv"
    csv.write_text("k,v\n1,a\n2,b\n")
    df = read_table(engine.spark, str(csv), format="csv")
    assert df.count() == 2 and dict(df.dtypes)["k"] == "int"
    jsonp = tmp_path / "src.json"
    jsonp.write_text('{"k": 1}\n{"k": 2}\n')
    dj = read_table(engine.spark, str(jsonp), format="json")
    assert dj.count() == 2


def test_partitioned_and_bucketed_table(engine):
    engine.materialize(Model(
        "part_t",
        sql="SELECT o_orderkey, o_orderstatus, o_totalprice FROM"
            " {source:orders} WHERE o_orderkey <= 500",
        config={"materialized": "table", "partition_by": ["o_orderstatus"],
                "bucket_by": ["o_orderkey"], "buckets": 4},
    ))
    assert engine.table("part_t").count() == 501
    detail = "\n".join(
        f"{r.col_name}={r.data_type}" for r in engine.spark.sql(
            f"DESCRIBE TABLE EXTENDED {engine.relation('part_t').render()}"
        ).collect())
    assert "o_orderstatus" in detail and "Bucket" in detail
    # partition pruning: a filter on the partition col prunes partitions
    plan = engine.spark.sql(
        f"SELECT COUNT(*) FROM {engine.relation('part_t').render()}"
        f" WHERE o_orderstatus = 'O'"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_salted_agg_matches_plain(engine):
    from dbt_extrica_spark.operators.skew import salted_agg

    ev = engine.spark.table(
        engine.sources["events"].render_unquoted())
    got = salted_agg(ev.select("event_type", "user_id", "event_id"),
                     ["event_type"],
                     {"n": "count(1)", "mx": "max(user_id)",
                      "mn": "min(event_id)"})
    expected = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.max("user_id").alias("mx"),
        F.min("event_id").alias("mn"))
    g = {r.event_type: (r.n, r.mx, r.mn) for r in got.collect()}
    e = {r.event_type: (r.n, r.mx, r.mn) for r in expected.collect()}
    assert g == e


def test_salted_join_matches_plain(engine):
    from dbt_extrica_spark.operators.skew import salted_join

    spark = engine.spark
    left = spark.table(engine.sources["events"].render_unquoted()) \
        .select("event_id", "user_id")
    right = spark.table(engine.sources["events"].render_unquoted()) \
        .groupBy("user_id").count()
    got = salted_join(left, right, on=["user_id"], salt_buckets=4)
    expected = left.join(right, on=["user_id"])
    assert got.count() == expected.count()
    g = got.groupBy("user_id").count().collect()
    e = expected.groupBy("user_id").count().collect()
    assert {(r.user_id, r["count"]) for r in g} == \
        {(r.user_id, r["count"]) for r in e}


def test_hooks_run(engine):
    hook_tbl = engine.relation("hook_log").render()
    engine.spark.sql(f"CREATE TABLE {hook_tbl} (msg STRING) USING PARQUET")
    engine.materialize(Model(
        "hooked", sql="SELECT 1 AS a",
        config={"materialized": "table"},
        post_hooks=[f"INSERT INTO {hook_tbl} VALUES ('post-ran')"],
    ))
    assert [r.msg for r in engine.spark.sql(
        f"SELECT msg FROM {hook_tbl}").collect()] == ["post-ran"]


def test_merge_with_incremental_predicates(engine):
    cfg = {"materialized": "incremental", "incremental_strategy": "merge",
           "unique_key": "k"}
    engine.materialize(Model(
        "mp", sql="SELECT k, v, seg FROM VALUES (1, 'a', 'hot'),"
        " (2, 'b', 'cold') AS t(k, v, seg)", config=cfg))
    # predicate limits matching to hot rows: k=2 treated as unmatched ->
    # target row kept AND source row inserted (reference ON-clause semantics)
    engine.materialize(Model(
        "mp", sql="SELECT k, v, seg FROM VALUES (1, 'A2', 'hot'),"
        " (2, 'B2', 'cold') AS t(k, v, seg)",
        config={**cfg,
                "incremental_predicates": ["DBT_INTERNAL_DEST.seg = 'hot'"]}))
    rows = {(r.k, r.v) for r in engine.table("mp").collect()}
    assert rows == {(1, "A2"), (2, "b"), (2, "B2")}


def test_grants_merge_vs_revoke(engine):
    engine.materialize(Model(
        "gr2", sql="SELECT 1 AS a",
        config={"materialized": "table", "grants": {"select": ["alice"]}}))
    rel = engine.relation("gr2")
    engine.catalog.apply_grants(rel, {"select": ["bob"]}, should_revoke=False)
    assert engine.catalog.show_grants(rel) == {"select": {"alice", "bob"}}
    engine.catalog.apply_grants(rel, {"insert": ["carol"]}, should_revoke=True)
    assert engine.catalog.show_grants(rel) == {"insert": {"carol"}}


def _inc(engine, name, sql, cfg):
    engine.materialize(Model(name, sql=sql, config=cfg))


def test_partition_scoped_merge_matches_full(engine):
    base = ("SELECT event_id, value, event_type FROM {source:events}"
            " WHERE event_id <= 400")
    batch = ("SELECT event_id, value * 10 AS value, event_type FROM"
             " {source:events} WHERE event_id BETWEEN 300 AND 500")
    for name, extra in [("pm_scoped", {"partition_by": ["event_type"]}),
                        ("pm_full", {})]:
        cfg = {"materialized": "incremental", "incremental_strategy": "merge",
               "unique_key": "event_id", **extra}
        _inc(engine, name, base, cfg)
        _inc(engine, name, batch, cfg)
    got = {(r.event_id, r.value, r.event_type)
           for r in engine.table("pm_scoped").collect()}
    want = {(r.event_id, r.value, r.event_type)
            for r in engine.table("pm_full").collect()}
    assert got == want and len(got) > 0


def test_partition_scoped_delete_insert_matches_full(engine):
    base = ("SELECT user_id, event_type, event_id, value FROM {source:events}"
            " WHERE event_id <= 400")
    batch = ("SELECT user_id, event_type, event_id, value FROM {source:events}"
             " WHERE event_id BETWEEN 300 AND 500")
    for name, extra in [("pdi_scoped", {"partition_by": ["event_type"]}),
                        ("pdi_full", {})]:
        cfg = {"materialized": "incremental",
               "incremental_strategy": "delete+insert",
               "unique_key": ["user_id"], **extra}
        _inc(engine, name, base, cfg)
        _inc(engine, name, batch, cfg)
    got = sorted((r.user_id, r.event_type, r.event_id, r.value)
                 for r in engine.table("pdi_scoped").collect())
    want = sorted((r.user_id, r.event_type, r.event_id, r.value)
                  for r in engine.table("pdi_full").collect())
    assert got == want and len(got) > 0


def test_partition_scoped_merge_emptied_partition(engine):
    # every row of partition 'A' moves to 'B' -> 'A' must be dropped, not
    # left with stale files (dynamic overwrite can't clear it by itself)
    cfg = {"materialized": "incremental", "incremental_strategy": "merge",
           "unique_key": "k", "partition_by": ["part"]}
    _inc(engine, "pempty",
         "SELECT k, v, part FROM VALUES (1, 10, 'A'), (2, 20, 'B')"
         " AS t(k, v, part)", cfg)
    _inc(engine, "pempty",
         "SELECT k, v, part FROM VALUES (1, 11, 'B') AS t(k, v, part)", cfg)
    rows = {(r.k, r.v, r.part) for r in engine.table("pempty").collect()}
    assert rows == {(1, 11, "B"), (2, 20, "B")}


def _partitions(engine, name):
    return sorted(r[0] for r in engine.spark.sql(
        f"SHOW PARTITIONS {engine.relation(name).render()}").collect())


def test_partition_scoped_merge_moves_row_out_of_partition(engine):
    # k=1 moves from 'A' to 'C': 'A' keeps k=3 (rewritten without k=1),
    # 'C' is new, and 'B' is outside the affected set and stays as it was
    cfg = {"materialized": "incremental", "incremental_strategy": "merge",
           "unique_key": "k", "partition_by": ["part"]}
    _inc(engine, "pmove",
         "SELECT k, v, part FROM VALUES (1, 10, 'A'), (2, 20, 'B'),"
         " (3, 30, 'A') AS t(k, v, part)", cfg)
    _inc(engine, "pmove",
         "SELECT k, v, part FROM VALUES (1, 11, 'C') AS t(k, v, part)", cfg)
    rows = {(r.k, r.v, r.part) for r in engine.table("pmove").collect()}
    assert rows == {(1, 11, "C"), (2, 20, "B"), (3, 30, "A")}
    assert _partitions(engine, "pmove") == ["part=A", "part=B", "part=C"]


def test_partition_scoped_delete_insert_empties_partition(engine):
    # every row of 'A' carries a batch key, and the batch's rows all land
    # in 'B': 'A' must be dropped, not left holding the deleted rows
    cfg = {"materialized": "incremental",
           "incremental_strategy": "delete+insert",
           "unique_key": "k", "partition_by": ["part"]}
    _inc(engine, "pdiempty",
         "SELECT k, v, part FROM VALUES (1, 10, 'A'), (2, 20, 'A'),"
         " (3, 30, 'B') AS t(k, v, part)", cfg)
    _inc(engine, "pdiempty",
         "SELECT k, v, part FROM VALUES (1, 11, 'B'), (2, 21, 'B')"
         " AS t(k, v, part)", cfg)
    rows = {(r.k, r.v, r.part) for r in engine.table("pdiempty").collect()}
    assert rows == {(1, 11, "B"), (2, 21, "B"), (3, 30, "B")}
    assert _partitions(engine, "pdiempty") == ["part=B"]


_NULL_PART_BASES = {
    # (3, 30, NULL) survives the delete of key 1: the NULL partition is
    # rewritten without key 1, not left holding it
    "null_partition_keeps_rows": (
        "(1, 10, CAST(NULL AS STRING)), (3, 30, NULL), (2, 20, 'B')",
        {(1, 11, "B"), (2, 20, "B"), (3, 30, None)},
        ["part=B", "part=__HIVE_DEFAULT_PARTITION__"]),
    # key 1 was the NULL partition's only row: the partition is dropped
    "null_partition_emptied": (
        "(1, 10, CAST(NULL AS STRING)), (2, 20, 'B')",
        {(1, 11, "B"), (2, 20, "B")},
        ["part=B"]),
}


@pytest.mark.parametrize("strategy", ["delete+insert", "merge"])
@pytest.mark.parametrize("case", sorted(_NULL_PART_BASES))
def test_partition_scoped_null_partition(engine, strategy, case):
    base, want, parts = _NULL_PART_BASES[case]
    cfg = {"materialized": "incremental", "incremental_strategy": strategy,
           "unique_key": "k", "partition_by": ["part"]}
    _inc(engine, "pnull",
         f"SELECT * FROM VALUES {base} AS t(k, v, part)", cfg)
    _inc(engine, "pnull",
         "SELECT * FROM VALUES (1, 11, 'B') AS t(k, v, part)", cfg)
    assert {(r.k, r.v, r.part) for r in engine.table("pnull").collect()} \
        == want
    assert _partitions(engine, "pnull") == parts


_GAINS_PARTITION_BY = {
    # built unpartitioned, then run with partition_by: the table keeps its
    # layout, so the run is an ordinary swap of the whole table
    "merge": ({"materialized": "incremental",
               "incremental_strategy": "merge", "unique_key": "k"},
              "(1, 11, 'B'), (3, 30, 'C')",
              {(1, 11, "B", True), (2, 20, "B", True), (3, 30, "C", True)}),
    "snapshot": ({"materialized": "snapshot", "strategy": "check",
                  "unique_key": "k", "check_cols": ["v"],
                  "snapshot_time": "2024-01-01 00:00:00"},
                 "(1, 11, 'A'), (2, 20, 'B')",
                 {(1, 10, "A", False), (1, 11, "A", True),
                  (2, 20, "B", True)}),
}


@pytest.mark.parametrize("kind", sorted(_GAINS_PARTITION_BY))
def test_model_gaining_partition_by_keeps_rows(engine, kind):
    cfg, batch, want = _GAINS_PARTITION_BY[kind]
    engine.materialize(Model("gains", config=cfg, sql=(
        "SELECT * FROM VALUES (1, 10, 'A'), (2, 20, 'B') AS t(k, v, part)")))
    cfg = {**cfg, "partition_by": ["part"]}
    engine.materialize(Model("gains", config=cfg, sql=(
        f"SELECT * FROM VALUES {batch} AS t(k, v, part)")))
    rows = engine.table("gains").collect()
    assert {(r.k, r.v, r.part, r.asDict().get("dbt_valid_to") is None)
            for r in rows} == want
    assert not engine.catalog.describe_table(
        engine.relation("gains")).get("partition_columns")


@pytest.fixture()
def non_utc_process(monkeypatch):
    """The Python process in a time zone behind UTC, as on a host outside
    UTC: collected TIMESTAMPs become naive local datetimes, while the
    session time zone stays as configured."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_partition_scoped_merge_timestamp_partition(engine, non_utc_process):
    # the affected partition goes to the driver and back: it must still
    # select the target's rows, or the overwrite keeps only the batch
    cfg = {"materialized": "incremental", "incremental_strategy": "merge",
           "unique_key": "k", "partition_by": ["ts"]}
    a, b = "TIMESTAMP'2024-03-01 00:00:00'", "TIMESTAMP'2024-03-02 06:30:00'"
    _inc(engine, "pts",
         f"SELECT * FROM VALUES (1, 10, {a}), (2, 20, {a}), (3, 30, {b})"
         " AS t(k, v, ts)", cfg)
    _inc(engine, "pts",
         f"SELECT * FROM VALUES (1, 11, {a}) AS t(k, v, ts)", cfg)
    rows = {(r.k, r.v) for r in engine.sql(
        f"SELECT k, v FROM {engine.relation('pts').render()}"
        f" WHERE ts = {a}").collect()}
    assert rows == {(1, 11), (2, 20)}
    assert engine.table("pts").count() == 3


def test_partition_scoped_delete_insert_empties_timestamp_partition(
        engine, non_utc_process):
    cfg = {"materialized": "incremental",
           "incremental_strategy": "delete+insert",
           "unique_key": "k", "partition_by": ["ts"]}
    a, b = "TIMESTAMP'2024-03-01 00:00:00'", "TIMESTAMP'2024-03-02 06:30:00'"
    _inc(engine, "ptsdi",
         f"SELECT * FROM VALUES (1, 10, {a}), (2, 20, {b}) AS t(k, v, ts)",
         cfg)
    _inc(engine, "ptsdi",
         f"SELECT * FROM VALUES (1, 11, {b}) AS t(k, v, ts)", cfg)
    assert {(r.k, r.v) for r in engine.table("ptsdi").collect()} == {
        (1, 11), (2, 20)}
    assert len(_partitions(engine, "ptsdi")) == 1


def test_bucketed_join_avoids_exchange(engine):
    spark = engine.spark
    for name in ("bk_a", "bk_b"):
        engine.materialize(Model(
            name,
            sql="SELECT o_orderkey AS k, o_totalprice AS v FROM"
                " {source:orders} WHERE o_orderkey <= 1000",
            config={"materialized": "table",
                    "bucket_by": ["k"], "buckets": 4},
        ))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = spark.sql(
            f"SELECT a.k, a.v, b.v AS v2 FROM"
            f" {engine.relation('bk_a').render()} a JOIN"
            f" {engine.relation('bk_b').render()} b ON a.k = b.k"
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # co-located bucketed scan: the sort-merge join reads both sides
    # pre-partitioned -> no shuffle Exchange in the plan
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_incremental_preserves_orc_format(engine):
    cfg = {"materialized": "incremental", "incremental_strategy": "merge",
           "unique_key": "k", "file_format": "orc"}
    engine.materialize(Model("orc_inc", sql="SELECT 1 AS k, 'a' AS v",
                             config=cfg))
    engine.materialize(Model("orc_inc", sql="SELECT 1 AS k, 'A' AS v",
                             config=cfg))
    detail = "\n".join(
        f"{r.col_name}={r.data_type}" for r in engine.spark.sql(
            f"DESCRIBE TABLE EXTENDED {engine.relation('orc_inc').render()}"
        ).collect())
    assert "Provider=orc" in detail
    assert engine.table("orc_inc").collect()[0].v == "A"


def test_list_schemas_and_exists(engine):
    assert engine.schema in engine.catalog.list_schemas()
    assert engine.catalog.check_schema_exists(engine.schema)
    assert not engine.catalog.check_schema_exists("no_such_schema_xyz")


def test_delete_insert_null_keys_survive(engine):
    # Trino `k IN (...)` never matches NULL keys -> NULL-key target rows
    # survive the delete (reference: incremental.sql:116-142 semantics)
    cfg = {"materialized": "incremental",
           "incremental_strategy": "delete+insert", "unique_key": ["k"]}
    engine.materialize(Model(
        "di_null",
        sql="SELECT k, v FROM VALUES (1, 'a'), (CAST(NULL AS INT), 'keepme')"
            " AS t(k, v)", config=cfg))
    engine.materialize(Model(
        "di_null", sql="SELECT 1 AS k, 'a2' AS v", config=cfg))
    rows = {(r.k, r.v) for r in engine.table("di_null").collect()}
    assert rows == {(1, "a2"), (None, "keepme")}


def test_asof_join_tolerance_and_unmatched(engine):
    from dbt_extrica_spark.operators.asof import asof_join

    spark = engine.spark
    left = spark.sql(
        "SELECT * FROM VALUES (1, 'u1', TIMESTAMP '2024-01-01 10:00:00'),"
        " (2, 'u1', TIMESTAMP '2024-01-01 12:00:00'),"
        " (3, 'u2', TIMESTAMP '2024-01-01 09:00:00')"
        " AS t(id, u, ts)")
    right = spark.sql(
        "SELECT * FROM VALUES ('u1', TIMESTAMP '2024-01-01 09:30:00', 5.0),"
        " ('u1', TIMESTAMP '2024-01-01 11:00:00', 7.0)"
        " AS t(u, ts, px)")
    out = {r.id: r.px_right for r in
           asof_join(left, right, on="ts", by="u",
                     value_cols=["px"]).collect()}
    assert out == {1: 5.0, 2: 7.0, 3: None}
    # 30-minute tolerance: the 10:00 click is within 30min of 09:30; the
    # 12:00 click is 60min past 11:00 -> nulled
    out2 = {r.id: r.px_right for r in
            asof_join(left, right, on="ts", by="u", value_cols=["px"],
                      tolerance_seconds=1800).collect()}
    assert out2 == {1: 5.0, 2: None, 3: None}


def test_asof_join_tie_matches(engine):
    from dbt_extrica_spark.operators.asof import asof_join

    spark = engine.spark
    left = spark.sql("SELECT 1 AS id, 'u' AS u,"
                     " TIMESTAMP '2024-01-01 10:00:00' AS ts")
    right = spark.sql("SELECT 'u' AS u,"
                      " TIMESTAMP '2024-01-01 10:00:00' AS ts, 9.0 AS px")
    out = asof_join(left, right, on="ts", by="u",
                    value_cols=["px"]).collect()
    assert out[0].px_right == 9.0  # equal timestamps match (>= semantics)


def test_range_join_matches_nested_loop(engine):
    from dbt_extrica_spark.operators.asof import range_join

    spark = engine.spark
    left = spark.sql("SELECT explode(sequence(0, 200)) AS x") \
        .selectExpr("x", "CAST(x * 1.5 AS DOUBLE) AS point")
    right = spark.sql("SELECT explode(sequence(0, 30)) AS iv") \
        .selectExpr("iv", "CAST(iv * 10 AS DOUBLE) AS lo",
                    "CAST(iv * 10 + 25 AS DOUBLE) AS hi")  # overlapping
    got = range_join(left, right, "point", "lo", "hi", bucket_width=10.0)
    expected = left.join(
        right, (left.point >= right.lo) & (left.point <= right.hi))
    assert got.count() == expected.count()
    g = {(r.x, r.iv) for r in got.collect()}
    e = {(r.x, r.iv) for r in expected.collect()}
    assert g == e


_ROLLUP_LATENESS = {
    # phase 2 adds a LATE row in the Jan-2 bucket and a new Jan-3 row;
    # Jan-2 (within lateness of wm=Jan-2) is refolded with the late row,
    # Jan-3 appears, Jan-1 is untouched
    "day": ([("2024-01-01 10:00:00", 1.0), ("2024-01-02 10:00:00", 2.0)],
            [("2024-01-02 23:00:00", 10.0), ("2024-01-03 01:00:00", 5.0)],
            {"2024-01-01": (1, 1.0), "2024-01-02": (2, 12.0),
             "2024-01-03": (1, 5.0)}),
    # the floor is one MONTH before wm=Mar-1: February is recomputed from
    # all its rows (a floor one day back, Feb-29, would rebuild it from
    # one day of rows), the late Feb-20 row folds in, January is untouched
    "month": ([("2024-01-15 10:00:00", 1.0), ("2024-02-03 10:00:00", 2.0),
               ("2024-02-10 10:00:00", 3.0), ("2024-02-29 10:00:00", 4.0),
               ("2024-03-02 10:00:00", 5.0)],
              [("2024-02-20 10:00:00", 10.0), ("2024-03-05 10:00:00", 6.0)],
              {"2024-01-01": (1, 1.0), "2024-02-01": (4, 19.0),
               "2024-03-01": (2, 11.0)}),
}


@pytest.mark.parametrize("bucket", sorted(_ROLLUP_LATENESS))
def test_rollup_lateness_folds_late_rows(engine, bucket):
    from dbt_extrica_spark.operators.rollup import continuous_rollup

    spark = engine.spark
    first, late, want = _ROLLUP_LATENESS[bucket]

    def values(rows):
        return ("SELECT * FROM VALUES " + ", ".join(
            f"(TIMESTAMP '{ts}', {v})" for ts, v in rows) + " AS t(ts, v)")

    spark.sql(values(first)).createOrReplaceTempView("roll_src1")
    spark.sql(values(first + late)).createOrReplaceTempView("roll_src2")
    aggs = {"n": "CAST(COUNT(*) AS BIGINT)",
            "s": "CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE)"}
    continuous_rollup(engine, "roll_t", "roll_src1", "ts", bucket,
                      aggs=aggs)
    continuous_rollup(engine, "roll_t", "roll_src2", "ts", bucket,
                      aggs=aggs, lateness_buckets=1)
    rows = {str(r.bucket): (r.n, r.s) for r in
            engine.table("roll_t").collect()}
    assert rows == want


def test_rollup_rejects_bucket_it_cannot_floor(engine):
    # an "hour" rollup would build DATE (day) buckets under an hour name
    from dbt_extrica_spark.operators.rollup import continuous_rollup

    with pytest.raises(ValueError, match="unsupported rollup bucket"):
        continuous_rollup(engine, "roll_h", "roll_src_h", "ts", "hour")


def test_rollup_cascade_reaggregates_from_finer_level(engine):
    """Cascade: month level re-aggregates the DAY rollup (not raw) — its
    refresh plan scans the day table; late rows fold through both levels;
    min/max re-aggregate correctly across the regrouping."""
    from dbt_extrica_spark.operators.rollup import rollup_cascade

    spark = engine.spark
    # v as DOUBLE: a VALUES decimal literal would type the first build's
    # column DECIMAL(2,1) and a later 10.0 overflows the insert (ANSI)
    spark.sql("SELECT ts, CAST(v AS DOUBLE) AS v FROM VALUES"
              " (TIMESTAMP '2024-01-30 10:00:00', 1.0),"
              " (TIMESTAMP '2024-02-01 10:00:00', 2.0),"
              " (TIMESTAMP '2024-02-02 10:00:00', 7.0)"
              " AS t(ts, v)").createOrReplaceTempView("cas_src1")
    spark.sql("SELECT ts, CAST(v AS DOUBLE) AS v FROM VALUES"
              " (TIMESTAMP '2024-01-30 10:00:00', 1.0),"
              " (TIMESTAMP '2024-02-01 10:00:00', 2.0),"
              " (TIMESTAMP '2024-02-02 10:00:00', 7.0),"
              " (TIMESTAMP '2024-02-02 23:00:00', 10.0),"  # late, Feb-2
              " (TIMESTAMP '2024-02-03 01:00:00', 5.0)"    # new day
              " AS t(ts, v)").createOrReplaceTempView("cas_src2")
    aggs = {"n": ("count", "*"),
            "s": ("sum", "CAST(v AS DECIMAL(18,4))"),
            "vmax": ("max", "v")}
    rollup_cascade(engine, "cas_t", "cas_src1", "ts", ("day", "month"),
                   aggs=aggs)
    assert engine.table("cas_t_month").count() == 2  # both levels built
    rollup_cascade(engine, "cas_t", "cas_src2", "ts", ("day", "month"),
                   aggs=aggs)
    days = {str(r.bucket): (r.n, float(r.s), r.vmax) for r in
            engine.table("cas_t_day").collect()}
    assert days["2024-02-02"] == (2, 17.0, 10.0)
    assert days["2024-02-03"] == (1, 5.0, 5.0)
    months = {str(r.bucket): (r.n, float(r.s), r.vmax) for r in
              engine.table("cas_t_month").collect()}
    assert months == {"2024-01-01": (1, 1.0, 1.0),
                      "2024-02-01": (4, 24.0, 10.0)}
    # non-decomposable aggregates refuse
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-decomposable"):
        rollup_cascade(engine, "cas_bad", "cas_src1", "ts", ("day",),
                       aggs={"a": ("avg", "v")})


def test_mv_refresh_picks_up_base_changes(engine):
    engine.materialize(Model("mv_base", sql="SELECT 1 AS a",
                             config={"materialized": "table"}))
    engine.materialize(Model("mv_over", sql="SELECT SUM(a) AS s FROM {ref:mv_base}",
                             config={"materialized": "materialized_view"}))
    assert engine.table("mv_over").collect()[0].s == 1
    engine.spark.sql(
        f"INSERT INTO {engine.relation('mv_base').render()} VALUES (41)")
    # MV is a materialized table: stale until refreshed
    assert engine.table("mv_over").collect()[0].s == 1
    engine.refresh_materialized_view("mv_over")
    assert engine.table("mv_over").collect()[0].s == 42


def test_grants_durable_across_catalog_clients(engine):
    from dbt_extrica_spark.catalog import CatalogClient

    engine.materialize(Model(
        "gdur", sql="SELECT 1 AS a",
        config={"materialized": "table",
                "grants": {"select": ["alice"], "insert": ["bob"]}}))
    # a FRESH catalog client (no in-memory registry) reads the durable copy
    fresh = CatalogClient(engine.spark)
    got = fresh.show_grants(engine.relation("gdur"))
    assert got == {"select": {"alice"}, "insert": {"bob"}}


def test_sort_by_produces_sorted_files(engine):
    import glob as _glob

    import duckdb as _duckdb

    engine.materialize(Model(
        "sorted_t",
        sql="SELECT o_orderkey, o_totalprice FROM {source:orders}"
            " WHERE o_orderkey <= 1000",
        config={"materialized": "table", "sort_by": ["o_totalprice"]}))
    loc = [r.data_type for r in engine.spark.sql(
        f"DESCRIBE TABLE EXTENDED {engine.relation('sorted_t').render()}"
    ).collect() if r.col_name == "Location"][0].replace("file:", "")
    files = _glob.glob(loc + "/*.parquet")
    assert files
    # every file individually sorted -> tight min/max stats per row group
    for f in files[:4]:
        vals = [r[0] for r in _duckdb.sql(
            f"SELECT o_totalprice FROM '{f}'").fetchall()]
        assert vals == sorted(vals)
    assert engine.table("sorted_t").count() == 1001


def test_zorder_tightens_file_ranges(engine):
    import glob as _glob

    import duckdb as _duckdb
    from dbt_extrica_spark.operators.zorder import write_zordered

    spark = engine.spark
    # 2D grid of points; z-ordering should localize BOTH dims per file
    pts = spark.sql(
        "SELECT x, y FROM (SELECT explode(sequence(0, 99)) AS x)"
        " LATERAL VIEW explode(sequence(0, 99)) t AS y")
    write_zordered(engine, "zt", pts, ["x", "y"], target_files=8)
    assert engine.table("zt").count() == 10000
    loc = [r.data_type for r in spark.sql(
        f"DESCRIBE TABLE EXTENDED {engine.relation('zt').render()}"
    ).collect() if r.col_name == "Location"][0].replace("file:", "")
    files = _glob.glob(loc + "/*.parquet")
    assert len(files) >= 4
    # per-file bounding boxes must be far smaller than the 100x100 domain
    areas = []
    for f in files:
        lo_x, hi_x, lo_y, hi_y = _duckdb.sql(
            f"SELECT min(x), max(x), min(y), max(y) FROM '{f}'").fetchone()
        areas.append((hi_x - lo_x + 1) * (hi_y - lo_y + 1))
    avg_area = sum(areas) / len(areas)
    assert avg_area < 10000 * 0.5  # each file covers << the whole domain


def test_incremental_contract_enforced_every_run(engine):
    # ADVICE r1: contracts must bind on the incremental CTAS AND on every
    # subsequent batch (reference: extrica__create_table_as enforces on all
    # creates; NULL/type drift must not land in the target).
    cfg = {"materialized": "incremental", "incremental_strategy": "merge",
           "unique_key": "k",
           "contract": {"enforced": True},
           "contract_columns": [
               {"name": "k", "data_type": "int"},
               {"name": "v", "data_type": "int",
                "constraints": [{"type": "not_null"}]}]}
    m = Model("icon", sql="SELECT 1 AS k, 10 AS v", config=cfg)
    engine.materialize(m)
    assert engine.table("icon").count() == 1
    # second run: NULL in a not_null contract column must fail pre-write
    with pytest.raises(DatabaseError):
        engine.materialize(Model(
            "icon", sql="SELECT 2 AS k, CAST(NULL AS INT) AS v", config=cfg))
    assert engine.table("icon").count() == 1  # target untouched
    # second run: column drift must fail as a contract error
    with pytest.raises(CompilationError):
        engine.materialize(Model(
            "icon", sql="SELECT 3 AS k, 30 AS wrong_name", config=cfg))
    # a conforming batch still merges
    engine.materialize(Model("icon", sql="SELECT 1 AS k, 99 AS v", config=cfg))
    rows = {r.k: r.v for r in engine.table("icon").collect()}
    assert rows == {1: 99}


def test_incremental_first_run_contract_not_null(engine):
    cfg = {"materialized": "incremental", "incremental_strategy": "append",
           "contract": {"enforced": True},
           "contract_columns": [
               {"name": "x", "data_type": "int",
                "constraints": [{"type": "not_null"}]}]}
    with pytest.raises(DatabaseError):
        engine.materialize(Model("icon0", sql="SELECT CAST(NULL AS INT) AS x",
                                 config=cfg))


def test_merge_duplicate_source_keys_raise(engine):
    # ADVICE r1: ANSI/Trino MERGE errors when a target row matches more than
    # one source row; a silent fan-out duplicated target rows before.
    cfg = {"materialized": "incremental", "incremental_strategy": "merge",
           "unique_key": "k"}
    engine.materialize(Model("mdup", sql="SELECT 1 AS k, 'a' AS v", config=cfg))
    with pytest.raises(DatabaseError, match="more than one source row"):
        engine.materialize(Model(
            "mdup",
            sql="SELECT 1 AS k, 'b' AS v UNION ALL SELECT 1 AS k, 'c' AS v",
            config=cfg))
    assert engine.table("mdup").count() == 1
    # duplicate source keys that match NO target row do not error (MERGE
    # only constrains matched target rows) and insert both rows
    engine.materialize(Model(
        "mdup",
        sql="SELECT 2 AS k, 'x' AS v UNION ALL SELECT 2 AS k, 'y' AS v",
        config=cfg))
    assert engine.table("mdup").where("k = 2").count() == 2


def test_properties_quote_escaping(engine):
    from dbt_extrica_spark.operators.materializations import properties_clause
    clause = properties_clause({"owner's_team": "data'ops"})
    assert clause == " TBLPROPERTIES ('owner''s_team' = 'data''ops')"
    engine.materialize(Model(
        "tprops_q", sql="SELECT 1 AS a",
        config={"materialized": "table",
                "properties": {"note": "it's quoted"}}))
    props = {
        r.key: r.value for r in engine.spark.sql(
            f"SHOW TBLPROPERTIES {engine.relation('tprops_q').render()}"
        ).collect()
    }
    assert props.get("note") == "it's quoted"


def test_rename_external_view_with_trailing_alias(engine):
    # ADVICE r1: a view created OUTSIDE the engine (no stored definition)
    # whose body ends in a column alias must survive rename intact; the old
    # rfind(' AS ') extraction truncated it.
    rel = engine.relation("ext_alias_v")
    engine.spark.sql(
        f"CREATE VIEW {rel.render()} AS SELECT 41 + 1 AS b"
    )
    from dbt_extrica_spark.relation import RelationType
    src = rel.incorporate(RelationType.View)
    dst = engine.relation("ext_alias_v2").incorporate(RelationType.View)
    engine.catalog.rename_relation(src, dst)
    assert engine.table("ext_alias_v2").collect()[0].b == 42


def test_microbatch_requires_configs(engine):
    with pytest.raises(CompilationError, match="event_time"):
        engine.materialize(Model(
            "mb0", sql="SELECT 1 AS a",
            config={"materialized": "incremental",
                    "incremental_strategy": "microbatch"}))
    with pytest.raises(CompilationError, match="begin"):
        engine.materialize(Model(
            "mb1", sql="SELECT CAST('2024-01-01' AS TIMESTAMP) AS et, 1 AS a",
            config={"materialized": "incremental",
                    "incremental_strategy": "microbatch",
                    "event_time": "et"}))
    with pytest.raises(CompilationError, match="project its event_time"):
        engine.materialize(Model(
            "mb2", sql="SELECT 1 AS a",
            config={"materialized": "incremental",
                    "incremental_strategy": "microbatch",
                    "event_time": "et", "begin": "2024-01-01"}))


def test_microbatch_replaces_periods_and_keeps_old(engine):
    # first build: 3 day-batches; second run: only the lookback window and
    # onward is reprocessed, earlier periods keep their original rows
    cfg = {"materialized": "incremental",
           "incremental_strategy": "microbatch",
           "event_time": "et", "batch_size": "day", "lookback": 1,
           "begin": "2024-03-01"}
    mk = lambda v: ("SELECT CAST(c1 AS TIMESTAMP) AS et, c2 AS k,"
                    f" {v} AS v FROM VALUES"
                    " ('2024-03-01 10:00:00', 1), ('2024-03-02 10:00:00', 2),"
                    " ('2024-03-03 10:00:00', 3) AS t(c1, c2)")
    engine.materialize(Model("mbp", sql=mk(100), config=cfg))
    assert engine.table("mbp").count() == 3
    # run2: max(et)=Mar3 -> lookback 1 -> reprocess from Mar2
    engine.materialize(Model("mbp", sql=mk(200), config=cfg))
    rows = {r.k: r.v for r in engine.table("mbp").collect()}
    assert rows == {1: 100, 2: 200, 3: 200}


def test_microbatch_partition_scoped(engine):
    cfg = {"materialized": "incremental",
           "incremental_strategy": "microbatch",
           "event_time": "et", "batch_size": "day", "lookback": 0,
           "begin": "2024-03-01", "partition_by": ["d"]}
    sql1 = ("SELECT CAST(c1 AS TIMESTAMP) AS et, CAST(c1 AS DATE) AS d,"
            " c2 AS k FROM VALUES ('2024-03-01 09:00:00', 1),"
            " ('2024-03-02 09:00:00', 2) AS t(c1, c2)")
    engine.materialize(Model("mbs", sql=sql1, config=cfg))
    # run2 has only a Mar2 row -> Mar1 partition untouched, Mar2 replaced
    sql2 = ("SELECT CAST('2024-03-02 11:00:00' AS TIMESTAMP) AS et,"
            " CAST('2024-03-02' AS DATE) AS d, 99 AS k")
    engine.materialize(Model("mbs", sql=sql2, config=cfg))
    rows = {(str(r.d), r.k) for r in engine.table("mbs").collect()}
    assert rows == {("2024-03-01", 1), ("2024-03-02", 99)}


def test_microbatch_month_batches(engine):
    cfg = {"materialized": "incremental",
           "incremental_strategy": "microbatch",
           "event_time": "et", "batch_size": "month", "lookback": 1,
           "begin": "2023-11-15"}
    sql = ("SELECT CAST(c1 AS TIMESTAMP) AS et, c2 AS k FROM VALUES"
           " ('2023-11-20 00:00:00', 1), ('2024-01-10 00:00:00', 2)"
           " AS t(c1, c2)")
    engine.materialize(Model("mbm", sql=sql, config=cfg))
    # month batches spanning a year boundary: Nov, Dec, Jan all processed
    assert {r.k for r in engine.table("mbm").collect()} == {1, 2}


def test_microbatch_per_batch_contract(engine):
    """NOT NULL is enforced per batch (dbt 1.9 one-statement-per-batch):
    a NULL in a backfill batch after the first fails the run; on
    incremental runs a NULL OUTSIDE the processed window must NOT fail,
    one inside the window must."""
    contract = {"contract": {"enforced": True},
                "contract_columns": [
                    {"name": "et", "data_type": "timestamp"},
                    {"name": "k", "data_type": "int",
                     "constraints": [{"type": "not_null"}]}]}
    cfg = {"materialized": "incremental",
           "incremental_strategy": "microbatch",
           "event_time": "et", "batch_size": "day", "lookback": 1,
           "begin": "2024-03-01", **contract}
    # first build: NULL k lands in batch 2 (Mar 2) -> CTAS of batch 1
    # succeeds, the appended batch must still fail the contract
    bad_backfill = ("SELECT CAST(c1 AS TIMESTAMP) AS et, c2 AS k FROM VALUES"
                    " ('2024-03-01 10:00:00', 1),"
                    " ('2024-03-02 10:00:00', CAST(NULL AS INT)) AS t(c1, c2)")
    with pytest.raises(DatabaseError, match="NOT NULL"):
        engine.materialize(Model("mbc", sql=bad_backfill, config=cfg))
    engine.catalog.drop_relation(
        engine.catalog.get_relation(engine.relation("mbc")))

    ok = ("SELECT CAST(c1 AS TIMESTAMP) AS et, c2 AS k FROM VALUES"
          " ('2024-03-01 10:00:00', 1), ('2024-03-02 10:00:00', 2),"
          " ('2024-03-03 10:00:00', 3) AS t(c1, c2)")
    engine.materialize(Model("mbc", sql=ok, config=cfg))
    # incremental run reprocesses Mar2 onward (lookback 1 from max=Mar3).
    # A NULL on Mar1 is OUTSIDE the window -> run succeeds, Mar1 keeps
    # its original row (never rewritten).
    null_outside = (
        "SELECT CAST(c1 AS TIMESTAMP) AS et, c2 AS k FROM VALUES"
        " ('2024-03-01 10:00:00', CAST(NULL AS INT)),"
        " ('2024-03-02 10:00:00', 20), ('2024-03-03 10:00:00', 30)"
        " AS t(c1, c2)")
    engine.materialize(Model("mbc", sql=null_outside, config=cfg))
    rows = {r.k for r in engine.table("mbc").collect()}
    assert rows == {1, 20, 30}
    # a NULL INSIDE the window fails that batch before its write; batches
    # are independent statements (dbt 1.9), so the earlier Mar2 batch has
    # already committed and the failing Mar3 batch's period is untouched
    null_inside = (
        "SELECT CAST(c1 AS TIMESTAMP) AS et, c2 AS k FROM VALUES"
        " ('2024-03-02 10:00:00', 21),"
        " ('2024-03-03 10:00:00', CAST(NULL AS INT)) AS t(c1, c2)")
    with pytest.raises(DatabaseError, match="NOT NULL"):
        engine.materialize(Model("mbc", sql=null_inside, config=cfg))
    assert {r.k for r in engine.table("mbc").collect()} == {1, 21, 30}


def test_microbatch_per_batch_retry(engine, monkeypatch):
    """A transiently-failing batch write succeeds on retry
    (batch_retries=1); with batch_retries=0 the same failure propagates."""
    from dbt_extrica_spark import engine as engine_mod

    cfg = {"materialized": "incremental",
           "incremental_strategy": "microbatch",
           "event_time": "et", "batch_size": "day", "lookback": 1,
           "begin": "2024-03-01", "batch_retries": 1}
    mk = lambda v: ("SELECT CAST(c1 AS TIMESTAMP) AS et, c2 AS k,"
                    f" {v} AS v FROM VALUES"
                    " ('2024-03-01 10:00:00', 1), ('2024-03-02 10:00:00', 2)"
                    " AS t(c1, c2)")
    engine.materialize(Model("mbr", sql=mk(100), config=cfg))

    real = engine.overwrite_table_atomic
    calls = {"n": 0}

    def flaky(target, df, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient executor loss")
        return real(target, df, **kw)

    monkeypatch.setattr(engine, "overwrite_table_atomic", flaky)
    engine.materialize(Model("mbr", sql=mk(200), config=cfg))
    rows = {r.k: r.v for r in engine.table("mbr").collect()}
    assert rows == {1: 200, 2: 200}  # lookback 1 from Mar2 -> both replaced
    assert calls["n"] >= 2  # first attempt failed, retry ran

    # batch_retries=0: the failure must propagate (surfaced through the
    # engine's error taxonomy as RuntimeEngineError)
    calls["n"] = 0
    cfg0 = {**cfg, "batch_retries": 0}
    import pytest

    from dbt_extrica_spark.errors import RuntimeEngineError

    with pytest.raises(RuntimeEngineError, match="transient"):
        engine.materialize(Model("mbr", sql=mk(300), config=cfg0))


def test_insert_overwrite_unpartitioned_full_replace(engine):
    cfg = {"materialized": "incremental",
           "incremental_strategy": "insert_overwrite"}
    engine.materialize(Model("iow0", sql="SELECT 1 AS a", config=cfg))
    engine.materialize(Model("iow0", sql="SELECT 2 AS a UNION ALL"
                             " SELECT 3 AS a", config=cfg))
    # no partition_by -> dbt-spark semantics: whole table replaced
    assert sorted(r.a for r in engine.table("iow0").collect()) == [2, 3]


def test_insert_overwrite_partition_scoped(engine):
    cfg = {"materialized": "incremental",
           "incremental_strategy": "insert_overwrite",
           "partition_by": ["p"]}
    engine.materialize(Model(
        "iow1", sql="SELECT c1 AS k, c2 AS p FROM VALUES"
        " (1, 'a'), (2, 'a'), (3, 'b') AS t(c1, c2)", config=cfg))
    engine.materialize(Model(
        "iow1", sql="SELECT 99 AS k, 'a' AS p", config=cfg))
    rows = {(r.k, r.p) for r in engine.table("iow1").collect()}
    # partition 'a' replaced wholesale, 'b' untouched
    assert rows == {(99, "a"), (3, "b")}


def test_data_test_severity_and_thresholds(engine):
    from dbt_extrica_spark import testing

    engine.spark.sql("SELECT 1 AS k UNION ALL SELECT 1 UNION ALL SELECT 2") \
        .createOrReplaceTempView("dupes")
    # default severity=error -> error on violations
    out = testing.run_checks(engine.spark, [
        {"check": "unique", "table": "dupes", "column": "k"}]).collect()[0]
    assert (out.violations, out.status) == (1, "error")
    # warn severity can only warn
    out = testing.run_checks(engine.spark, [
        {"check": "unique", "table": "dupes", "column": "k",
         "severity": "warn"}]).collect()[0]
    assert out.status == "warn"
    # error_if threshold not met but warn_if met -> warn
    out = testing.run_checks(engine.spark, [
        {"check": "unique", "table": "dupes", "column": "k",
         "error_if": "> 5", "warn_if": "!= 0"}]).collect()[0]
    assert out.status == "warn"
    # neither met -> pass
    out = testing.run_checks(engine.spark, [
        {"check": "unique", "table": "dupes", "column": "k",
         "error_if": "> 5", "warn_if": "> 5"}]).collect()[0]
    assert out.status == "pass"


def test_data_test_store_failures(engine):
    from dbt_extrica_spark import testing

    engine.spark.sql("SELECT 7 AS k UNION ALL SELECT 7 UNION ALL SELECT 8") \
        .createOrReplaceTempView("dupes2")
    out = testing.run_checks(
        engine.spark,
        [{"check": "unique", "table": "dupes2", "column": "k"}],
        engine=engine, store_failures=True).collect()[0]
    assert out.status == "error" and out.failures_table
    stored = engine.table(out.failures_table).collect()
    assert [(r.k, r.n_records) for r in stored] == [(7, 2)]


def test_build_retry_reruns_only_failures(engine):
    """dbt retry analog: after a build with an error-severity test failure,
    retry_from reruns the failing model (its test errored) and its skipped
    descendants — the clean independent branch does not rerun."""
    from dbt_extrica_spark.plans.model import Project
    from dbt_extrica_spark.plans.runner import build_project

    models = [
        Model("r_base", sql="SELECT k FROM {ref:r_seed}",
              config={"materialized": "table",
                      "tests": [{"check": "unique", "column": "k"}]}),
        Model("r_down", sql="SELECT COUNT(*) AS n FROM {ref:r_base}",
              config={"materialized": "table"}),
        Model("r_ok", sql="SELECT 1 AS one", config={"materialized": "table"}),
    ]
    p = Project(models)
    report1 = build_project(
        engine, p, seeds=[{"name": "r_seed", "csv_text": "k\n1\n1\n2"}])
    got1 = {(r.node_type, r.name): r.status for r in report1.collect()}
    assert got1[("model", "r_down")] == "skip"
    # fix the data, retry: only the failed branch reruns
    report2 = build_project(
        engine, p, seeds=[{"name": "r_seed", "csv_text": "k\n1\n2\n3"}],
        retry_from=report1)
    got2 = {(r.node_type, r.name): r.status for r in report2.collect()}
    assert got2[("model", "r_base")] == "success"
    assert got2[("model", "r_down")] == "success"
    assert ("model", "r_ok") not in got2  # clean branch untouched
    tbl = engine.relation("r_base").render_unquoted()
    assert got2[("test", f"unique:{tbl}.k")] == "pass"
    assert engine.table("r_down").collect()[0].n == 3


def test_run_project_with_selection(engine):
    from dbt_extrica_spark.plans.model import Project
    from dbt_extrica_spark.plans.runner import run_project

    models = [
        Model("sel_a", sql="SELECT 1 AS x", config={"materialized": "table"}),
        Model("sel_b", sql="SELECT x + 1 AS y FROM {ref:sel_a}",
              config={"materialized": "table"}),
        Model("sel_c", sql="SELECT 9 AS z", config={"materialized": "table"}),
    ]
    p = Project(models)
    # build only the +sel_b chain; sel_c must not materialize
    results = run_project(engine, p, select="+sel_b")
    assert set(results) == {"sel_a", "sel_b"}
    assert engine.catalog.get_relation(engine.relation("sel_c")) is None
    # rerun just sel_b against the EXISTING sel_a (unselected upstream
    # is not rebuilt — dbt run --select semantics)
    results = run_project(engine, p, select="sel_b")
    assert set(results) == {"sel_b"}
    assert engine.table("sel_b").collect()[0].y == 2


def test_select_nodes_graph_operators():
    # pure graph logic — no Spark needed
    from dbt_extrica_spark.plans.model import Model, Project

    p = Project([
        Model("a", sql="SELECT 1 AS x"),
        Model("b", sql="SELECT * FROM {ref:a}"),
        Model("c", sql="SELECT * FROM {ref:b}"),
        Model("d", sql="SELECT * FROM {ref:a}"),
        Model("e", sql="SELECT 2 AS y"),
    ])
    assert p.select_nodes("b") == {"b"}
    assert p.select_nodes("+b") == {"a", "b"}
    assert p.select_nodes("b+") == {"b", "c"}
    assert p.select_nodes("+b+") == {"a", "b", "c"}
    assert p.select_nodes("a+") == {"a", "b", "c", "d"}
    assert p.select_nodes(["b", "e"]) == {"b", "e"}
    assert p.select_nodes(None, exclude="b+") == {"a", "d", "e"}
    assert p.select_nodes("a+", exclude="c") == {"a", "b", "d"}
    import pytest as _pytest
    with _pytest.raises(KeyError, match="unknown model"):
        p.select_nodes("+nope")


def test_apply_cdc_semantics(spark):
    """CDC apply: latest-by-seq wins, D>U>I at equal seq, delete-absent
    is a no-op (at-least-once replay), re-applying the batch is
    idempotent; guards raise on bad ops / missing columns / op-seq in
    dest columns."""
    import pytest as _pytest

    from dbt_extrica_spark.operators.merge import apply_cdc

    tgt = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                                "id int, v string")
    ch = spark.createDataFrame(
        [(2, "b2", "U", 10), (2, "b3", "U", 11), (3, None, "D", 5),
         (4, "d", "I", 1), (5, "e", "I", 2), (5, None, "D", 2),
         (9, None, "D", 1)],
        "id int, v string, op string, seq int")
    out = apply_cdc(tgt, ch, "id")
    want = [(1, "a"), (2, "b3"), (4, "d")]
    assert sorted((r.id, r.v) for r in out.collect()) == want
    # idempotent replay: applying the same batch to the result again
    # converges (the at-least-once property)
    again = apply_cdc(out, ch, "id")
    assert sorted((r.id, r.v) for r in again.collect()) == want
    bad = spark.createDataFrame([(1, "x", "Z", 1)],
                                "id int, v string, op string, seq int")
    with _pytest.raises(Exception, match="apply_cdc"):
        apply_cdc(tgt, bad, "id").collect()
    nullk = spark.createDataFrame([(None, "x", "U", 1)],
                                  "id int, v string, op string, seq int")
    with _pytest.raises(Exception, match="apply_cdc"):
        apply_cdc(tgt, nullk, "id").collect()
    with _pytest.raises(ValueError, match="missing columns"):
        apply_cdc(tgt, ch.drop("v"), "id")
    with _pytest.raises(ValueError, match="must not be dest"):
        apply_cdc(tgt.withColumn("op", tgt.v), ch, "id",
                  dest_columns=["id", "v", "op"])


def test_merge_batch_staging_variants_identical(engine, monkeypatch):
    """The merge batch is staged once (localCheckpoint + guarded
    broadcast hint). The result must be identical on both staging paths
    — including the large-batch persist fallback (row cap forced to 0) —
    and the staged cache must not leak past the operator."""
    from dbt_extrica_spark.operators import materializations as M

    cfg = {"materialized": "incremental", "incremental_strategy": "merge",
           "unique_key": "k"}

    def run(name):
        engine.materialize(Model(name, sql=(
            "SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') AS t(k, v)"
        ), config=cfg))
        engine.materialize(Model(name, sql=(
            "SELECT * FROM VALUES (2, 'B'), (4, 'd') AS t(k, v)"
        ), config=cfg))
        return {(r.k, r.v) for r in engine.table(name).collect()}

    want = {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    assert run("stage_default") == want          # checkpoint_bcast path
    monkeypatch.setattr(M, "_STAGE_BCAST_ROW_CAP", 0)
    assert run("stage_bigbatch") == want         # persist fallback path
