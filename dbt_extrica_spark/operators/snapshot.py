"""Snapshot (SCD Type-2) materialization — SURVEY §2 A12/A13, §3.3.

The reference supplies the Trino-specific pieces (scd_id hash:
snapshot.sql:1-6; merge-on-scd_id: snapshot.sql:13-34; staging cleanup:
snapshot.sql:8-11) while dbt-core computes the change set. Here the whole
pipeline is DataFrame joins + one row-rewrite commit:

- insertions: source rows that are new OR changed -> new open versions
- updates:    open snapshot rows whose source row changed -> closed out
              (dbt_valid_to = source updated_at)
- deletes:    (optional, invalidate_hard_deletes) open rows missing from the
              source -> closed at the snapshot time

Bookkeeping columns (dbt standard): dbt_scd_id, dbt_updated_at,
dbt_valid_from, dbt_valid_to. The scd_id hash preserves the reference's
``md5(concat_ws('|', coalesce(cast(k as string),''), ...))`` byte-for-byte
(reference: snapshot.sql:1-6).

Strategies: 'timestamp' (row changed iff source.updated_at > snapshotted
dbt_updated_at) and 'check' (row changed iff any check_cols value IS DISTINCT
FROM the snapshotted one).
"""

from __future__ import annotations

import uuid
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from ..catalog import table_clauses
from ..errors import CompilationError
from ..functions.shims import snapshot_hash_arguments
from ..relation import Relation, RelationType
from . import merge as merge_ops

if TYPE_CHECKING:  # pragma: no cover
    from ..engine import Engine

META_COLS = ("dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to")


def _key_list(unique_key) -> list[str]:
    return [unique_key] if isinstance(unique_key, str) else list(unique_key)


def _with_meta(src: DataFrame, keys: list[str], updated_expr: str) -> DataFrame:
    """Stamp source rows as new open snapshot versions."""
    scd = snapshot_hash_arguments([f"`{k}`" for k in keys] + [updated_expr])
    return (
        src.withColumn("dbt_updated_at", F.expr(updated_expr).cast("timestamp"))
        .withColumn("dbt_valid_from", F.expr(updated_expr).cast("timestamp"))
        .withColumn("dbt_valid_to", F.lit(None).cast("timestamp"))
        .withColumn("dbt_scd_id", F.expr(scd))
    )


def snapshot(
    engine: "Engine",
    name: str,
    source_sql: str,
    unique_key,
    strategy: str = "timestamp",
    updated_at: str | None = None,
    check_cols: list[str] | str | None = None,
    invalidate_hard_deletes: bool = False,
    snapshot_time: str | None = None,
    partition_by: list[str] | None = None,
) -> Relation:
    """Run one snapshot pass. ``snapshot_time`` overrides the wall-clock
     'now' used by the check strategy and hard-delete close-outs (keeps tests
    deterministic; dbt uses snapshot_get_time()).

    ``partition_by`` (scale path): the snapshot table is created
    PARTITIONED BY the given data columns, and each pass over a partitioned
    table rewrites only partitions holding closed-out rows plus partitions
    receiving new versions (:func:`~.merge.rewrite_rows`) — a history table
    grows forever, so unbounded full rewrites are the first thing to break
    at 100 TB."""
    keys = _key_list(unique_key)
    if strategy == "timestamp":
        if not updated_at:
            raise CompilationError("timestamp strategy requires updated_at")
        updated_expr = f"`{updated_at}`"
    elif strategy == "check":
        if not check_cols:
            raise CompilationError("check strategy requires check_cols")
        now = snapshot_time or "current_timestamp()"
        updated_expr = (now if snapshot_time is None
                        else f"TIMESTAMP '{snapshot_time}'")
    else:
        raise CompilationError(f"Unsupported snapshot strategy: {strategy!r}")

    target = engine.relation(name, RelationType.Table)
    existing = engine.catalog.get_relation(target)
    src = engine.spark.sql(source_sql)

    if existing is None:
        initial = _with_meta(src, keys, updated_expr)
        view = f"__snap_init_{uuid.uuid4().hex[:8]}"
        initial.createOrReplaceTempView(view)
        engine.spark.sql(
            f"CREATE TABLE {target.render()}"
            f"{table_clauses(partition_by=partition_by)} AS SELECT * FROM {view}")
        engine.spark.catalog.dropTempView(view)
        return target

    snap = engine.spark.table(target.render_unquoted())
    data_cols = [c for c in snap.columns if c not in META_COLS]

    open_rows = snap.where(F.col("dbt_valid_to").isNull()).alias("snap")
    src_a = src.alias("src")
    key_cond = None
    for k in keys:
        c = F.expr(f"src.`{k}` = snap.`{k}`")
        key_cond = c if key_cond is None else key_cond & c

    if strategy == "timestamp":
        changed = F.expr(f"src.`{updated_at}` > snap.`dbt_updated_at`")
    else:
        checks = (data_cols if check_cols in ("all", None)
                  else _key_list(check_cols))
        ors = [
            F.expr(f"NOT (src.`{c}` <=> snap.`{c}`)") for c in checks
        ]
        changed = ors[0]
        for o in ors[1:]:
            changed = changed | o

    matched = src_a.join(open_rows, on=key_cond, how="inner")

    # new keys -> insert
    new_rows = src_a.join(open_rows, on=key_cond, how="left_anti")
    insert_new = _with_meta(new_rows.select("src.*"), keys, updated_expr)
    # changed rows -> insert a new open version
    insert_changed = _with_meta(
        matched.where(changed).select("src.*"), keys, updated_expr
    )

    # changed rows -> close the old open version (merge ON scd_id sets
    # dbt_valid_to; reference: snapshot.sql:23-27)
    close_expr = (F.expr(f"src.`{updated_at}`").cast("timestamp")
                  if strategy == "timestamp"
                  else F.expr(updated_expr).cast("timestamp"))
    closed = matched.where(changed).select(
        *[
            (close_expr.alias(c) if c == "dbt_valid_to"
             else F.col(f"snap.`{c}`").alias(c))
            for c in snap.columns
        ]
    )

    closed_ids = [F.col("snap.dbt_scd_id")]
    to_close = matched.where(changed).select(*closed_ids)

    if invalidate_hard_deletes:
        now_expr = (F.expr(f"TIMESTAMP '{snapshot_time}'") if snapshot_time
                    else F.current_timestamp())
        deleted_open = open_rows.join(src_a, on=key_cond, how="left_anti")
        deleted = deleted_open.select("snap.*").withColumn("dbt_valid_to", now_expr)
        to_close = to_close.unionByName(
            deleted_open.select(F.col("snap.dbt_scd_id"))
        )
    else:
        deleted = None

    to_close = to_close.withColumnRenamed("dbt_scd_id", "__closing_id")

    def assemble(base):
        """base minus closing ids, plus close-outs, deletes, and inserts.
        The change sets are computed against the GLOBAL open rows (above),
        so `base` may be the full table or just the affected partitions."""
        out = base.join(to_close, on=F.expr("dbt_scd_id = __closing_id"),
                        how="left_anti").unionByName(closed)
        if deleted is not None:
            out = out.unionByName(deleted)
        return (
            out.unionByName(insert_new.select(*snap.columns))
            .unionByName(insert_changed.select(*snap.columns))
        )

    # partitions receiving new versions, and those whose open rows close
    # out (a changed key's old partition may differ from its new one)
    touched = [insert_new, insert_changed, closed]
    if deleted is not None:
        touched.append(deleted)
    merge_ops.rewrite_rows(engine, target, assemble, touched)
    return target
