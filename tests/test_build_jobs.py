"""Spark jobs launched by `build` and docs, the dbt test violation counts
they report, and the dependency-driven build scheduler."""

from __future__ import annotations

import threading
import uuid
from contextlib import contextmanager

import pytest

from dbt_extrica_spark import Model, testing
from dbt_extrica_spark.plans.model import Project
from dbt_extrica_spark.plans.runner import build_project, run_project


@contextmanager
def jobs_run(spark):
    """Count the Spark jobs the calling thread launches inside the block:
    they run under a fresh job group; the count is read once the listener
    bus has delivered every job start to the status store."""
    sc = spark.sparkContext
    group = f"jobcount_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    counted: list[int] = []
    try:
        yield counted
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        counted.append(len(sc.statusTracker().getJobIdsForGroup(group)))


@pytest.fixture()
def checked(engine):
    """A table with known violations of every check kind, and its parent."""
    t, p = engine.relation("dq_child"), engine.relation("dq_parent")
    engine.sql(f"CREATE TABLE {p.render()} USING parquet AS SELECT * FROM"
               " VALUES (10), (11), (NULL), (10) AS t(pk)")
    engine.sql(
        f"CREATE TABLE {t.render()} USING parquet AS SELECT * FROM VALUES"
        " (1, 'a', 10), (1, 'b', NULL), (2, 'z', 11), (3, 'y', NULL),"
        " (NULL, 'z', 9), (4, NULL, 99), (4, 'a', 98), (4, 'q', 9)"
        " AS t(k, v, fk)")
    return t.render_unquoted(), p.render_unquoted()


_KNOWN = [  # (spec on the dq_child fixture, its violation count)
    ({"check": "unique", "column": "k"}, 2),                  # 1, 4
    ({"check": "not_null", "column": "fk"}, 2),               # 2 rows
    ({"check": "accepted_values", "column": "v",
      "values": ["a", "b"]}, 3),                              # y, z, q
    ({"check": "relationships", "column": "fk",
      "to_table": "PARENT", "to_column": "pk"}, 3),           # 9, 98, 99
    ({"check": "not_null", "column": "k"}, 1),                # 1 row
    ({"check": "unique", "column": "v"}, 2),                  # a, z
    ({"check": "accepted_values", "column": "v",
      "values": ["a", "b", "q", "y", "z"]}, 0),               # none
]


def _known(table, parent):
    return [{**s, "table": table,
             **({"to_table": parent} if "to_table" in s else {})}
            for s, _n in _KNOWN]


def _cross_checked(spark, specs):
    """The one-query counts, checked against each check's own violations
    query (one query per check)."""
    counts = [r.violations for r in testing.run_checks(spark, specs).collect()]
    assert counts == [testing._check_df(spark, s).count() for s in specs]
    return counts


def test_violation_counts_per_check(engine, checked):
    """Each kind's dbt violation count, from the one query per table, equals
    the count of its own violations query (one query per check)."""
    table, parent = checked
    specs = _known(table, parent)
    assert _cross_checked(engine.spark, specs) == [n for _s, n in _KNOWN]
    report = testing.run_checks(engine.spark, specs).collect()
    assert [r.check for r in report] == [
        f"{s['check']}:{table}.{s['column']}" for s in specs]
    assert [r.status for r in report] == ["error"] * 6 + ["pass"]


def test_violation_counts_match_per_check_queries_on_more_tables(engine):
    spark = engine.spark
    spark.sql("SELECT 1 AS k UNION ALL SELECT 1 UNION ALL SELECT 2") \
        .createOrReplaceTempView("vc_dupes")
    spark.sql("SELECT 7 AS k UNION ALL SELECT 7 UNION ALL SELECT 8") \
        .createOrReplaceTempView("vc_dupes2")
    spark.sql("SELECT * FROM VALUES ('010', NULL), ('11', 1), ('9', NULL),"
              " (NULL, 2) AS t(fk, n)").createOrReplaceTempView("vc_strfk")
    spark.sql("SELECT * FROM VALUES (10), (11) AS t(pk)") \
        .createOrReplaceTempView("vc_intpk")
    specs = [
        {"check": "unique", "table": "vc_dupes", "column": "k"},
        {"check": "unique", "table": "vc_dupes2", "column": "k"},
        # a string key against an integer parent key compares as the
        # anti-join does: '010' has parent 10
        {"check": "relationships", "table": "vc_strfk", "column": "fk",
         "to_table": "vc_intpk", "to_column": "pk"},
        # a table with only not_null checks: no grouped column
        {"check": "not_null", "table": "vc_strfk", "column": "n"},
        {"check": "not_null", "table": "vc_strfk", "column": "fk"},
    ]
    assert _cross_checked(spark, specs) == [1, 1, 1, 2, 1]


def test_violation_counts_past_the_grouping_limit(engine, checked):
    """More checks on one table than Spark allows grouping columns in one
    query (64) still count each one: 80 of these 140 are grouped."""
    table, parent = checked
    specs = _known(table, parent) * 20
    assert [r.violations for r in testing.run_checks(
        engine.spark, specs).collect()] == [n for _s, n in _KNOWN] * 20


def test_violation_counts_drive_severity_and_stored_failures(engine,
                                                             checked):
    table, parent = checked
    specs = [
        {"check": "unique", "column": "k", "severity": "warn"},
        {"check": "not_null", "column": "fk", "error_if": ">2",
         "warn_if": ">1"},
        {"check": "accepted_values", "column": "v", "values": ["a", "b"],
         "error_if": ">=3"},
        {"check": "relationships", "column": "fk", "to_table": parent,
         "to_column": "pk", "error_if": ">5", "warn_if": ">5"},
    ]
    report = testing.run_checks(
        engine.spark, [{**s, "table": table} for s in specs],
        engine=engine, store_failures=True).collect()
    assert [(r.violations, r.status) for r in report] == [
        (2, "warn"), (2, "warn"), (3, "error"), (3, "pass")]
    stored = [r.failures_table for r in report]
    assert stored[3] is None and all(stored[:3])
    assert sorted(r.k for r in engine.table(stored[0]).collect()) == [1, 4]
    assert engine.table(stored[1]).count() == 2
    assert sorted(r.v for r in engine.table(stored[2]).collect()) == [
        "q", "y", "z"]


def test_one_relations_checks_run_in_a_fixed_number_of_jobs(engine,
                                                            checked):
    table, parent = checked
    specs = [{"check": "unique", "table": table, "column": "k"},
             {"check": "not_null", "table": table, "column": "fk"},
             {"check": "accepted_values", "table": table, "column": "v",
              "values": ["a", "b"]},
             {"check": "relationships", "table": table, "column": "fk",
              "to_table": parent, "to_column": "pk"}]
    with jobs_run(engine.spark) as n:
        report = testing.run_checks(engine.spark, specs)
    with jobs_run(engine.spark) as collected:
        report.collect()
    # one query: the broadcast of the parent's keys, the grouping-sets
    # shuffle, then the write that observes the totals
    assert n[0] <= 3
    assert collected == [0]


def test_docs_listing_and_build_report_run_no_jobs(engine):
    engine.materialize(Model("nj_t", sql="SELECT 1 AS a, 'x' AS b",
                             description="a table",
                             config={"materialized": "table",
                                     "persist_docs": True}))
    engine.materialize(Model("nj_v", sql="SELECT 2 AS c",
                             config={"materialized": "view"}))
    with jobs_run(engine.spark) as n:
        docs = engine.generate_docs()
        rels = engine.catalog.list_relations_without_caching(engine.schema)
        schemas = engine.catalog.list_schemas()
        catalog = engine.catalog.get_catalog([engine.schema]).collect()
    assert n == [0]
    assert docs["relations"]["nj_t"]["comment"] == "a table"
    assert docs["relations"]["nj_v"]["type"] == "VIEW"
    assert {(r.identifier, r.type.value) for r in rels} >= {
        ("nj_t", "table"), ("nj_v", "view")}
    assert engine.schema in schemas
    keys = [(r.table_name, r.column_index) for r in catalog]
    assert keys == sorted(keys)

    report = build_project(engine, Project(
        [Model("nj_b", sql="SELECT 1 AS x", config={"materialized": "view"})]))
    with jobs_run(engine.spark) as n:
        rows = report.collect()
    assert n == [0]
    assert [(r.node_type, r.name, r.status) for r in rows] == [
        ("model", "nj_b", "success")]


def _gated_project(release: threading.Event | None = None):
    """slow_root (blocks until ``release``) -> slow_child; fast_root ->
    fast_child; bad_root fails its error test -> bad_child is skipped."""
    def slow(eng):
        assert release is None or release.wait(60), "independent branch held"
        return eng.spark.range(1).selectExpr("id AS k")

    def fast_child(eng):
        if release is not None:
            release.set()
        return eng.spark.range(1).selectExpr("id AS k")

    return Project([
        Model("slow_root", df_builder=slow,
              config={"materialized": "table", "depends_on": []}),
        Model("slow_child", sql="SELECT k FROM {ref:slow_root}",
              config={"materialized": "view"}),
        Model("fast_root", sql="SELECT 1 AS k",
              config={"materialized": "table"}),
        Model("fast_child", df_builder=fast_child,
              config={"materialized": "table", "depends_on": ["fast_root"]}),
        Model("bad_root", sql="SELECT 1 AS k UNION ALL SELECT 1",
              config={"materialized": "table",
                      "tests": [{"check": "unique", "column": "k"}]}),
        Model("bad_child", sql="SELECT k FROM {ref:bad_root}",
              config={"materialized": "view"}),
    ])


def test_scheduler_runs_a_child_while_another_branch_blocks(engine):
    """fast_child is a level-2 node; it must build while level-1 slow_root
    is still running, which a level barrier would never allow."""
    release = threading.Event()
    report = build_project(engine, _gated_project(release), threads=2)
    got = [(r.node_type, r.name, r.status) for r in report.collect()]
    assert release.is_set()
    bad = engine.relation("bad_root").render_unquoted()
    # DAG level, then name, each model followed by its tests; a level's
    # skipped models first
    assert got == [
        ("model", "bad_root", "success"),
        ("test", f"unique:{bad}.k", "error"),
        ("model", "fast_root", "success"),
        ("model", "slow_root", "success"),
        ("model", "bad_child", "skip"),
        ("model", "fast_child", "success"),
        ("model", "slow_child", "success"),
    ]
    serial = build_project(engine, _gated_project(), threads=1)
    assert [(r.node_type, r.name, r.status)
            for r in serial.collect()] == got


def test_scheduler_pool_shuts_down_when_a_model_raises(engine):
    def boom(eng):
        raise RuntimeError("boom")

    before = {t.ident for t in threading.enumerate()}
    project = Project([
        Model("ok_root", sql="SELECT 1 AS k", config={"materialized": "view"}),
        Model("boom_root", df_builder=boom,
              config={"materialized": "table", "depends_on": []}),
        Model("boom_child", sql="SELECT k FROM {ref:boom_root}",
              config={"materialized": "view"}),
    ])
    with pytest.raises(Exception, match="boom"):
        run_project(engine, project, threads=3)
    assert engine.catalog.get_relation(
        engine.relation("boom_child")) is None
    left = [t for t in threading.enumerate()
            if t.ident not in before and t.name.startswith("ThreadPool")]
    assert left == []
