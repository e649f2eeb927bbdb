"""The commit primitives: CatalogClient.swap_in (stage -> rename -> re-point
partitions -> drop backup) and merge.dynamic_overwrite_insert.

Partitioned tables are the case that matters: Spark's ALTER TABLE ...
RENAME moves a managed table's directory but not its partition locations,
so a swap that does not re-point them leaves the new table empty and the
backup's drop deletes the new table's files."""

from __future__ import annotations

import json
import re
import threading

import pytest

from dbt_extrica_spark import Engine, Model

_SWAP_NAME = re.compile(r"__(stg|bak)_[0-9a-f]+$")


@pytest.fixture()
def engine(spark):
    """An engine without registered sources: these tests build their own
    tables."""
    eng = Engine(spark)
    yield eng
    eng.close()


def _leftovers(engine) -> list[str]:
    return [t.name for t in engine.spark.catalog.listTables(engine.schema)
            if _SWAP_NAME.search(t.name)]


def _rows(engine, name: str) -> set[tuple]:
    return {tuple(r) for r in engine.table(name).collect()}


def _partition_locations(engine, name: str) -> list[str]:
    rel = engine.relation(name).render()
    out = []
    for part in engine.spark.sql(f"SHOW PARTITIONS {rel}").collect():
        spec = ", ".join(f"{kv.split('=', 1)[0]} = '{kv.split('=', 1)[1]}'"
                         for kv in part[0].split("/"))
        rows = engine.spark.sql(
            f"DESCRIBE TABLE EXTENDED {rel} PARTITION ({spec})").collect()
        # the partition's Location row comes before the table's
        out.append(next(r.data_type for r in rows if r.col_name == "Location"))
    return out


def _assert_layout(engine, name: str, partitions, buckets=None) -> dict:
    d = json.loads(engine.sql(
        f"DESCRIBE TABLE EXTENDED {engine.relation(name).render()} AS JSON"
    ).first()[0])
    assert d.get("partition_columns") == partitions
    if buckets:
        assert (d.get("bucket_columns"), d.get("num_buckets")) == buckets
    return d


def test_partitioned_table_rebuilt_three_times_keeps_rows(engine):
    cfg = {"materialized": "table", "partition_by": ["p"],
           "bucket_by": ["id"], "buckets": 2}
    for version in range(3):
        engine.materialize(Model("parted", config=cfg, sql=(
            f"SELECT id, id * {version + 1} AS v, id % 5 AS p "
            "FROM range(30)")))
        assert _rows(engine, "parted") == {
            (i, i * (version + 1), i % 5) for i in range(30)}
        d = _assert_layout(engine, "parted", ["p"], (["id"], 2))
        locs = _partition_locations(engine, "parted")
        assert len(locs) == 5
        assert all(loc.startswith(d["location"] + "/p=") for loc in locs)
        assert _leftovers(engine) == []


def test_renamed_partitioned_table_keeps_rows(engine):
    engine.sql(f"CREATE TABLE {engine.relation('rn_src').render()} "
               "USING parquet PARTITIONED BY (p) AS "
               "SELECT id, id % 3 AS p FROM range(12)")
    engine.catalog.rename_relation(engine.relation("rn_src"),
                                   engine.relation("rn_dst"))
    assert len(_rows(engine, "rn_dst")) == 12


def test_snapshot_and_compaction_keep_layout(engine):
    src = ("SELECT * FROM VALUES (1, 'a', 1), (2, 'b', 1), (3, 'c', 2) "
           "AS t(id, v, region)")
    cfg = {"materialized": "snapshot", "unique_key": "id",
           "strategy": "check", "check_cols": ["v"],
           "snapshot_time": "2024-01-01 00:00:00", "partition_by": ["region"]}
    engine.materialize(Model("snap_p", sql=src, config=cfg))
    engine.materialize(Model("snap_p", config={
        **cfg, "snapshot_time": "2024-01-02 00:00:00"}, sql=src.replace(
            "'b'", "'B'")))
    _assert_layout(engine, "snap_p", ["region"])
    before = _rows(engine, "snap_p")
    assert len(before) == 4
    engine.compact_table("snap_p", target_files=1)
    _assert_layout(engine, "snap_p", ["region"])
    assert _rows(engine, "snap_p") == before

    engine.materialize(Model("pb", config={
        "materialized": "table", "partition_by": ["p"], "bucket_by": ["id"],
        "buckets": 3, "properties": {"team": "data'ops"},
        "persist_docs": True}, description="it's bucketed",
        sql="SELECT id, id % 4 AS p FROM range(40)"))
    engine.compact_table("pb", target_files=1)
    d = _assert_layout(engine, "pb", ["p"], (["id"], 3))
    assert d["table_properties"].get("team") == "data'ops"
    assert d.get("comment") == "it's bucketed"
    assert _rows(engine, "pb") == {(i, i % 4) for i in range(40)}
    assert _leftovers(engine) == []


def test_sync_all_columns_drops_column_of_partitioned_merge(engine):
    cfg = {"materialized": "incremental", "incremental_strategy": "merge",
           "unique_key": "k", "partition_by": ["p"],
           "on_schema_change": "sync_all_columns"}
    engine.materialize(Model("inc_p", config=cfg, sql=(
        "SELECT * FROM VALUES (1, 'a', 'x', 1), (2, 'b', 'y', 2) "
        "AS t(k, v, extra, p)")))
    engine.materialize(Model("inc_p", config=cfg, sql=(
        "SELECT * FROM VALUES (2, 'B', 2), (3, 'c', 3) AS t(k, v, p)")))
    _assert_layout(engine, "inc_p", ["p"])
    assert engine.table("inc_p").columns == ["k", "v", "p"]
    assert _rows(engine, "inc_p") == {(1, "a", 1), (2, "B", 2), (3, "c", 3)}
    # and the next run merges into the same layout
    engine.materialize(Model("inc_p", config=cfg, sql=(
        "SELECT * FROM VALUES (1, 'A', 1) AS t(k, v, p)")))
    assert _rows(engine, "inc_p") == {(1, "A", 1), (2, "B", 2), (3, "c", 3)}
    assert _leftovers(engine) == []


class _FaultySpark:
    """Session proxy whose ``sql`` raises once, before running, on the
    first statement matching ``pattern``."""

    def __init__(self, spark, pattern: str):
        self._spark, self._pattern, self.fired = spark, re.compile(pattern), False

    def sql(self, query, *args, **kwargs):
        if not self.fired and self._pattern.search(query):
            self.fired = True
            raise RuntimeError("injected fault")
        return self._spark.sql(query, *args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._spark, name)


# (fault, statement it hits, whether the commit had happened)
_FAULTS = [
    ("rename_to_backup", r"RENAME TO `[^`]+`\.`ft__bak_", False),
    ("repair_backup", r"MSCK REPAIR TABLE `[^`]+`\.`ft__bak_", False),
    ("rename_into_place", r"`ft__stg_[0-9a-f]+` RENAME TO", False),
    ("repair_target", r"MSCK REPAIR TABLE `[^`]+`\.`ft` ", False),
    ("drop_backup", r"^DROP TABLE `[^`]+`\.`ft__bak_", True),
]


@pytest.mark.parametrize("fault,pattern,committed", _FAULTS,
                         ids=[f[0] for f in _FAULTS])
def test_swap_fault_leaves_old_or_new_rows(engine, monkeypatch, fault,
                                           pattern, committed):
    target = engine.relation("ft")
    engine.sql(f"CREATE TABLE {target.render()} USING parquet "
               "PARTITIONED BY (p) AS SELECT id, id % 4 AS p FROM range(20)")
    old = _rows(engine, "ft")
    new_df = engine.sql("SELECT id + 100 AS id, id % 3 AS p FROM range(9)")
    new = {tuple(r) for r in new_df.collect()}
    faulty = _FaultySpark(engine.spark, pattern)
    monkeypatch.setattr(engine.catalog, "spark", faulty)
    with pytest.raises(RuntimeError, match="injected fault"):
        engine.overwrite_table_atomic(target, new_df)
    assert faulty.fired
    monkeypatch.undo()

    assert _rows(engine, "ft") == (new if committed else old)
    _assert_layout(engine, "ft", ["p"])
    left = _leftovers(engine)
    if committed:  # the backup whose drop failed
        assert len(left) == 1 and "__bak_" in left[0]
        engine.catalog.drop_relation(engine.relation(left[0]))
        assert _rows(engine, "ft") == new
    else:
        assert left == []
    # the table stays usable: the next swap commits
    engine.overwrite_table_atomic(target, new_df)
    assert _rows(engine, "ft") == new and _leftovers(engine) == []


_REBUILDS = {
    "overwrite": ({"materialized": "table", "partition_by": ["p"]},
                  lambda engine, cfg: engine.overwrite_table_atomic(
                      engine.relation("described"),
                      engine.sql("SELECT id, id % 3 AS p FROM range(12)"))),
    # the row-rewrite commit reads the layout once and hands it to the swap
    "delete_insert": ({"materialized": "incremental",
                       "incremental_strategy": "delete+insert",
                       "unique_key": "id"},
                      lambda engine, cfg: engine.materialize(Model(
                          "described", config=cfg,
                          sql="SELECT id, id % 3 AS p FROM range(12)"))),
}


@pytest.mark.parametrize("rebuild", sorted(_REBUILDS))
def test_rebuild_describes_target_once(engine, monkeypatch, rebuild):
    """One rebuild describes the target for its layout and the stage for
    its partitioning: two DESCRIBE ... AS JSON calls, not three."""
    from dbt_extrica_spark.catalog import CatalogClient

    cfg, run = _REBUILDS[rebuild]
    engine.materialize(Model("described", config=cfg, sql=(
        "SELECT id, id % 3 AS p FROM range(9)")))
    seen = []
    real = CatalogClient.describe_table

    def counting(self, relation):
        seen.append(relation.identifier)
        return real(self, relation)

    monkeypatch.setattr(CatalogClient, "describe_table", counting)
    run(engine, cfg)
    assert len(seen) == 2 and seen[0] == "described"
    assert re.search(r"__stg_[0-9a-f]+$", seen[1])
    assert len(_rows(engine, "described")) == 12
    assert _leftovers(engine) == []


def test_swap_fault_at_stage_build_keeps_old_table(engine):
    target = engine.relation("fs")
    engine.sql(f"CREATE TABLE {target.render()} USING parquet AS "
               "SELECT id FROM range(5)")

    def half_built(stage):
        engine.sql(f"CREATE TABLE {stage.render()} USING parquet AS "
                   "SELECT id FROM range(2)")
        raise RuntimeError("injected fault")

    with pytest.raises(RuntimeError, match="injected fault"):
        engine.catalog.swap_in(target, half_built)
    assert _rows(engine, "fs") == {(i,) for i in range(5)}
    assert _leftovers(engine) == []


def test_dynamic_overwrite_is_serialized_across_threads(engine, monkeypatch):
    """Thread A sets dynamic mode and enters its write; thread B then
    starts. Unserialized, B saves A's "dynamic" as its previous value,
    A restores "static" before B writes, B's partition-scoped write becomes
    a full static overwrite, and B leaves the session in "dynamic"."""
    from pyspark.sql.readwriter import DataFrameWriter

    from dbt_extrica_spark.operators import merge

    spark = engine.spark
    conf = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(conf, "static")
    names = {}
    for t in ("a", "b"):
        rel = engine.relation(f"dyn_{t}")
        engine.sql(f"CREATE TABLE {rel.render()} USING parquet "
                   "PARTITIONED BY (p) AS SELECT * FROM VALUES "
                   "(1, 1), (2, 2) AS t(v, p)")
        names[t] = rel.render_unquoted()

    a_inside, a_done = threading.Event(), threading.Event()
    barrier = threading.Barrier(2)
    real_insert = DataFrameWriter.insertInto

    def insert_into(self, table_name, overwrite=None):
        if table_name == names["a"]:
            a_inside.set()
        try:  # both writers meet here unless the helper serializes them
            barrier.wait(timeout=2)
        except threading.BrokenBarrierError:
            pass
        if table_name == names["b"]:
            a_done.wait(timeout=2)
        return real_insert(self, table_name, overwrite)

    monkeypatch.setattr(DataFrameWriter, "insertInto", insert_into)
    errors = []

    def write(t):
        try:
            merge.dynamic_overwrite_insert(
                spark, names[t], spark.sql("SELECT 10 AS v, 1 AS p"))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            if t == "a":
                a_done.set()

    ta = threading.Thread(target=write, args=("a",))
    ta.start()
    assert a_inside.wait(timeout=30)
    tb = threading.Thread(target=write, args=("b",))
    tb.start()
    ta.join(timeout=60)
    tb.join(timeout=60)
    monkeypatch.undo()

    assert not ta.is_alive() and not tb.is_alive()
    assert errors == []
    for t in ("a", "b"):  # partition p=2 was not written: it survives
        assert {tuple(r) for r in spark.table(names[t]).collect()} == {
            (10, 1), (2, 2)}, t
    assert spark.conf.get(conf) == "static"
