"""[EXTENSION] Structured Streaming operators over the ``events`` table.

The reference is batch-only (dbt "incremental" = micro-batch-by-rerun,
SURVEY §1.1/§2C) — this module is the streaming analog flagged as an
extension: file-source streams, watermarked windowed aggregation, and a
custom stateful operator via ``applyInPandasWithState``.

`trigger(availableNow=True)` turns any of these into a deterministic
catch-up batch — the bridge between dbt-style reruns and a live stream: the
same code serves both.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.registry import _nanos_columns, normalize_ntz, read_parquet_table
from ..staging import staged


def _read_file_stream(spark: SparkSession, sf_dir: str,
                      file_name: str) -> DataFrame:
    """File-source stream over one parquet table with full batch-reader
    parity: schema capture (streams require a schema), ns-timestamp
    restoration, TIMESTAMP_NTZ normalization (watermarks reject NTZ
    event-time columns), and the batch reader's column order."""
    import os

    path = os.path.join(sf_dir, file_name)
    # schema inference needs the batch reader (streams require a schema);
    # the file source wants a DIRECTORY, so stream the sf dir with a glob
    batch = read_parquet_table(spark, path)
    raw_schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(raw_schema).format("parquet")
        .option("pathGlobFilter", file_name)
        .load(sf_dir)
    )
    for c in _nanos_columns(path):
        if c in stream.columns:
            stream = stream.withColumn(
                c, F.expr(f"timestamp_micros(`{c}` div 1000)")
            )
    stream = normalize_ntz(stream)
    return stream.select(*[F.col(f.name) for f in batch.schema.fields])


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet — see _read_file_stream."""
    return _read_file_stream(spark, sf_dir, "events.parquet")


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over documents.parquet — the streaming-ingest
    shape of the corpus curation pipeline (new crawl shards arriving as
    files). Same parity guarantees as read_event_stream — documents has
    no timestamp columns today, but a fetch-time column added later must
    stream identically to batch."""
    return _read_file_stream(spark, sf_dir, "documents.parquet")


def windowed_counts(stream: DataFrame, window: str = "1 day",
                    watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregate: count + exact (decimal-routed)
    value sum per (window, event_type). The watermark bounds state for
    continuous runs; under availableNow nothing is late and the result equals
    the batch GROUP BY."""
    return (
        normalize_ntz(stream).withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum_dec"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("value_sum_dec").cast("double").alias("value_sum"),
        )
    )


def run_available_now(result: DataFrame, output_mode: str = "complete",
                      state_partitions: int | None = None) -> DataFrame:
    """Execute a streaming DataFrame as a one-shot catch-up batch into a
    memory sink; returns the sink contents as a batch DataFrame.

    ``state_partitions`` right-sizes the STATE partitioning for stateful
    streams: stateful operators always partition their state stores on
    ``spark.sql.shuffle.partitions`` as read at query start, and the
    checkpoint pins that count for the stream's whole life — so sizing
    it to the stream's rate is a deliberate deployment decision, not a
    tunable-later knob (the Spark docs call this out for exactly that
    reason). The cost model that makes it matter: EVERY micro-batch
    pays a fixed per-state-store load/commit (a stream-stream join
    keeps 4 stores per partition), including the empty watermark-advance
    batch availableNow appends — an r14 cause-hunt measured that empty
    batch at 3.7-6.2s for a 200k-row join at 32 partitions and ~0.8s at
    8, with identical results. Size it to rows-per-batch (tens of
    thousands of rows per partition), exactly as you would size it UP
    for a high-rate production stream. The session conf is restored
    after the stream terminates (UNSET again if it was never explicitly
    set, so a default-valued session stays default-valued); results
    never depend on it.

    Concurrency hazard (session-global conf): while the stream runs,
    any OTHER query planned in the SAME SparkSession inherits the
    (possibly tiny) ``state_partitions`` value for its own shuffles.
    This helper is a one-shot catch-up runner — drive it from a
    single-query context, or give concurrent work its own session
    (``spark.newSession()`` shares the ConfigMap in classic mode, so a
    genuinely separate SparkSession is the safe isolation)."""
    spark = result.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    # conf.get falls back to the DEFAULT when unset — distinguish the
    # two so restore puts back "unset", not a pinned explicit default
    try:
        prior = spark.conf.get("spark.sql.shuffle.partitions", None)
    except Exception:  # pragma: no cover - conf API variance
        prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(int(state_partitions)))
        query = (
            result.writeStream.format("memory").queryName(name)
            .outputMode(output_mode).trigger(availableNow=True).start()
        )
        query.awaitTermination()
    finally:
        if state_partitions is not None:
            if prior is None:
                spark.conf.unset("spark.sql.shuffle.partitions")
            else:
                spark.conf.set("spark.sql.shuffle.partitions", prior)
    return spark.table(name)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    interval: str = "2 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join — the event-time
    attribution shape (each right event matched to the left events it
    follows within ``interval``, per ``key``): right.ts in
    [left.ts, left.ts + interval]. Both sides carry watermarks and the
    join condition is time-bounded, so Spark can expire buffered state
    and emit in append mode; under ``trigger(availableNow)`` nothing is
    late and the result equals the equivalent batch interval join (the
    oracle the battery entry checks).

    State bound at scale: each side buffers only rows within
    watermark + interval of the stream head, partitioned by ``key`` —
    the canonical Structured Streaming join-state story. Returns
    (key, left_id-side columns, right_id-side columns) with both
    timestamps, disambiguated by prefix."""
    l_cols = left.columns
    r_cols = right.columns
    assert key in l_cols and key in r_cols, "join key must exist both sides"
    lw = normalize_ntz(left).withWatermark(left_ts, watermark)
    rw = normalize_ntz(right).withWatermark(right_ts, watermark)
    lp = lw.select(F.col(key).alias("k"),
                   *[F.col(c).alias(f"l_{c}") for c in l_cols if c != key])
    rp = rw.select(F.col(key).alias("rk"),
                   *[F.col(c).alias(f"r_{c}") for c in r_cols if c != key])
    cond = (
        (F.col("k") == F.col("rk"))
        & (F.col(f"r_{right_ts}") >= F.col(f"l_{left_ts}"))
        & (F.col(f"r_{right_ts}")
           <= F.col(f"l_{left_ts}") + F.expr(f"INTERVAL {interval}"))
    )
    return (
        lp.join(rp, cond)
        .drop("rk")
        .withColumnRenamed("k", key)
    )


def dedup_within_watermark(stream: DataFrame, keys: list[str],
                           watermark_col: str = "ts",
                           delay: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication with bounded state
    (``dropDuplicatesWithinWatermark``, Spark 3.5+): a row whose ``keys``
    were already seen within ``delay`` of event time is dropped; the
    first-seen row is emitted.

    The streaming analog of extensions.dedup.exact_dedup. State per key is
    evicted once the watermark passes its event time + ``delay``, so state
    size is bounded by (key arrival rate x delay window) — NOT by corpus
    size, which is what makes it runnable forever on a live ingest. Plain
    ``dropDuplicates`` on a stream keeps every key in state unboundedly;
    this is the guardrailed form. Under ``trigger(availableNow)`` with all
    input in one batch it reduces to batch ``dropDuplicates(keys)``."""
    return (
        normalize_ntz(stream).withWatermark(watermark_col, delay)
        .dropDuplicatesWithinWatermark(list(keys))
    )


def _prior_commits_exist(engine, table_name: str) -> bool:
    """True when the stream's checkpoint has already COMMITTED batches
    into ``table_name``. At that point a missing durable table means it
    was lost after the fact (e.g. a crash inside the overwrite swap's
    rename window) — and the create-if-missing fallback would silently
    re-baseline the table from the CURRENT batch alone, discarding all
    previously accumulated state while the stream exits 0. Callers
    raise instead: restore the table, or clear the checkpoint to
    deliberately rebuild from scratch.

    Probed through the Hadoop FileSystem API (the same ``_fs_for``
    pattern as extensions/layout.py), NOT os.listdir: Engine accepts
    any Spark-supported warehouse URI, and on HDFS/object stores a
    local-only probe would return False — the guard would fail OPEN
    exactly where the rename-window loss it protects against is most
    likely."""
    from ..extensions.layout import _fs_for

    d = f"{engine.warehouse_dir}/_checkpoints/{table_name}/commits"
    fs, jpath = _fs_for(engine.spark, d)
    if not fs.exists(jpath):
        return False
    return any(not st.getPath().getName().startswith(".")
               for st in fs.listStatus(jpath))


def _require_table_or_fresh(engine, table_name: str) -> None:
    if _prior_commits_exist(engine, table_name):
        raise RuntimeError(
            f"durable table {table_name!r} is missing but its stream "
            f"checkpoint holds committed batches — refusing to "
            f"re-baseline from one batch (that silently discards all "
            f"prior state); restore the table or clear the checkpoint "
            f"to rebuild from scratch")


def _merge_into(unique_key, dest_columns: list[str] | None,
                null_safe_keys: bool = False) -> dict:
    """``build``/``merge`` for :func:`_start_upsert_sink` that upsert each
    micro-batch through the SAME merge rewrite the batch incremental
    strategy uses (operators/merge.py). ``null_safe_keys``: key-converging
    loops over AGGREGATE rows set this — a NULL group key is legitimate
    data there and must converge instead of re-inserting every batch
    (merge_upsert docs)."""
    from ..operators import merge as merge_ops

    return dict(
        build=lambda df: df.select(*(dest_columns or df.columns)),
        merge=lambda tbl, batch: merge_ops.merge_upsert(
            tbl, batch, unique_key, batch.columns,
            null_safe_keys=null_safe_keys))


def streaming_incremental_merge(
    engine,
    stream: DataFrame,
    table_name: str,
    unique_key,
    dest_columns: list[str] | None = None,
) -> "object":
    """Streaming incremental materialization: every micro-batch upserts into
    an engine table through the SAME merge rewrite the batch incremental
    strategy uses (operators/merge.py) — the live-stream version of dbt's
    rerun-the-model loop.

    Returns the StreamingQuery; combine with ``trigger(availableNow=True)``
    upstream of .start() via run semantics below (we always use availableNow
    so tests/catch-up runs terminate)."""
    return _start_upsert_sink(engine, stream, table_name,
                              **_merge_into(unique_key, dest_columns))


def _cdc_apply_callback(engine, table_name: str, unique_key,
                        op_col: str, seq_col: str,
                        dest_columns: list[str],
                        tombstones: bool = False,
                        tombstone_retention_batches: int | None = None):
    """foreachBatch closure for streaming CDC apply: each micro-batch's
    changelog slice folds into the target through merge.apply_cdc-style
    winner selection, with a persisted ``__cdc_seq`` column making live
    rows SEQ-AWARE — a batch winner older than the stored seq is
    ignored, so cross-batch out-of-order UPSERTS and re-delivered
    batches are both no-ops (at-least-once + per-key-unordered-upsert
    safety). Without tombstones, deletes remove the row AND its seq
    memory — an upsert older than an already-applied delete would
    re-insert, so DELETES then need per-key in-order delivery (the
    standard no-tombstone contract; Debezium/Kafka per-key partitions
    provide it). The first non-empty batch creates the table.

    ``tombstones=True`` closes that gap (the Delta Live Tables APPLY
    CHANGES retention model): a winning delete persists (key,
    __cdc_seq, __cdc_batch) in a side table ``<name>__tombstones``,
    and the stored seq a later batch compares against is the GREATEST
    of the live row's and the tombstone's — so a late out-of-order
    upsert OLDER than an applied delete is ignored instead of
    re-inserting, making the final state invariant to how the
    changelog was sliced into batches (it always equals the batch
    apply_cdc of the full log). ``tombstone_retention_batches=K``
    expires a tombstone K micro-batches after it was written (None =
    keep forever); an upsert NEWER than the tombstone clears it and
    re-inserts the key — a legitimate reincarnation, not a late
    straggler. Crash between the two table writes re-applies the
    batch's deletes on re-delivery (stored seq reads NULL again) —
    idempotent, converges to the same state."""
    from pyspark.sql import functions as F

    from ..operators.merge import _key_list
    from ..relation import RelationType

    keys = _key_list(unique_key)
    target = engine.relation(table_name, RelationType.Table)
    ts_target = engine.relation(f"{table_name}__tombstones",
                                RelationType.Table)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cols = list(dest_columns)
        op = F.upper(F.col(op_col).cast("string"))
        key_null = None
        for k in keys:
            cnd = F.col(k).isNull()
            key_null = cnd if key_null is None else (key_null | cnd)
        checked = F.when(
            key_null | F.col(seq_col).isNull() | ~op.isin("I", "U", "D"),
            F.expr("raise_error('streaming_cdc_apply: op must be I/U/D "
                   "and key/seq non-null')").cast("int"),
        ).otherwise(F.when(op == "D", 2).when(op == "U", 1).otherwise(0))
        winners = (batch_df
                   .withColumn("__rk", checked)
                   .groupBy(*[F.col(k) for k in keys])
                   .agg(F.max(F.struct(
                       # lossless: streaming_cdc_apply validates seq as
                       # integral up front, so this widening can never
                       # yield NULL (a silently-NULL __cdc_seq would
                       # make '__cdc_seq > __old_seq' drop changes)
                       F.col(seq_col).cast("bigint").alias("s"),
                       F.col("__rk").alias("r"),
                       F.struct(*[F.col(c) for c in cols]).alias("row"),
                   )).alias("__w"))
                   .select(*keys, F.col("__w.s").alias("__cdc_seq"),
                           F.col("__w.r").alias("__rk"),
                           *[F.col(f"__w.row.`{c}`").alias(c)
                             for c in cols if c not in keys]))
        existing = engine.catalog.get_relation(target)
        if existing is None:
            _require_table_or_fresh(engine, table_name)
            fresh = (winners.where(F.col("__rk") < 2)
                     .select(*cols, "__cdc_seq"))
            fresh.write.format("parquet").saveAsTable(
                target.render_unquoted())
            if tombstones:
                (winners.where(F.col("__rk") == 2)
                 .select(*keys, "__cdc_seq",
                         F.lit(int(batch_id)).cast("bigint")
                         .alias("__cdc_batch"))
                 .write.format("parquet")
                 .saveAsTable(ts_target.render_unquoted()))
            return
        if not batch_df.take(1):
            return
        tgt_df = engine.spark.table(target.render_unquoted())
        # seq-aware: only winners STRICTLY newer than the stored seq
        # apply (equal seq = already applied — idempotent re-delivery)
        stored = tgt_df.select(*keys,
                               F.col("__cdc_seq").alias("__old_seq"))
        ts_df = None
        if tombstones:
            if engine.catalog.get_relation(ts_target) is None:
                raise RuntimeError(
                    f"streaming_cdc_apply: target {table_name!r} exists "
                    f"but its tombstone table is missing — tombstones "
                    f"must be enabled from the table's creation (a "
                    f"mid-stream switch has no delete memory to "
                    f"compare against)")
            ts_df = engine.spark.table(ts_target.render_unquoted())
            if tombstone_retention_batches is not None:
                # expiry applies AT READ: a tombstone written at batch
                # W stops blocking from batch W + retention on — the
                # same filter then persists the pruned table below
                ts_df = ts_df.where(
                    F.col("__cdc_batch")
                    > F.lit(int(batch_id)
                            - int(tombstone_retention_batches)))
            # the stored seq is the GREATEST of the live row's and the
            # tombstone's — a delete's memory outlives the row it
            # removed, which is exactly what blocks the late upsert
            stored = (stored.join(
                ts_df.select(*keys, F.col("__cdc_seq").alias("__ts_seq")),
                on=keys, how="full")
                .select(*keys,
                        F.greatest("__old_seq", "__ts_seq")
                        .alias("__old_seq")))
        fresh_w = (winners.join(stored, on=keys, how="left")
                   .where(F.col("__old_seq").isNull()
                          | (F.col("__cdc_seq") > F.col("__old_seq"))))
        with staged() as st:
            if tombstones:
                # materialize the applied winners BEFORE any overwrite:
                # both table writes below are staged lazily, and fresh_w
                # reads the OLD tombstone table — without the checkpoint
                # the target's staging write would re-derive it AFTER the
                # tombstone swap and filter against the wrong stored seqs
                fresh_w = st.checkpoint(fresh_w)
            kept = tgt_df.join(fresh_w.select(*keys), on=keys,
                               how="left_anti")
            upserts = (fresh_w.where(F.col("__rk") < 2)
                       .select(*cols, "__cdc_seq"))
            if tombstones:
                # applied winners replace the key's tombstone: a delete
                # writes a new one, an upsert clears it (reincarnation)
                kept_ts = ts_df.join(fresh_w.select(*keys), on=keys,
                                     how="left_anti")
                new_ts = (fresh_w.where(F.col("__rk") == 2)
                          .select(*keys, "__cdc_seq",
                                  F.lit(int(batch_id)).cast("bigint")
                                  .alias("__cdc_batch")))
                engine.overwrite_table_atomic(
                    ts_target, kept_ts.unionByName(new_ts))
            engine.overwrite_table_atomic(
                target, kept.select(*cols, "__cdc_seq").unionByName(upserts))

    return apply_batch


def streaming_cdc_apply(
    engine,
    change_stream: DataFrame,
    table_name: str,
    unique_key,
    op_col: str = "op",
    seq_col: str = "seq",
    dest_columns: list[str] | None = None,
    tombstones: bool = False,
    tombstone_retention_batches: int | None = None,
) -> "object":
    """Streaming CDC changelog apply — the APPLY CHANGES INTO surface
    (Delta Live Tables apply_changes, Debezium sink): every micro-batch
    of I/U/D change rows folds into an engine table keeping each key's
    latest change by ``seq_col`` (D > U > I at equal seq), with the
    applied seq persisted per row (``__cdc_seq``) so out-of-order and
    re-delivered UPSERTS across batches are ignored — see
    _cdc_apply_callback for the exact delivery contract. The batch twin
    is operators/merge.apply_cdc; under availableNow with in-order
    deletes the final table equals the batch apply.

    ``tombstones=True`` persists delete memory in a
    ``<table>__tombstones`` side table so the final state equals the
    batch apply REGARDLESS of delete ordering across batches — see
    _cdc_apply_callback; ``tombstone_retention_batches`` bounds that
    table (the DLT retention knob).

    Returns the started StreamingQuery (availableNow trigger)."""
    from ..operators.merge import _require_sequence_type

    if tombstone_retention_batches is not None:
        if not tombstones:
            raise ValueError("tombstone_retention_batches requires "
                             "tombstones=True")
        if tombstone_retention_batches < 1:
            raise ValueError(f"tombstone_retention_batches must be >= 1,"
                             f" got {tombstone_retention_batches}")

    # Integral-only here (stricter than the batch twin's numeric/
    # timestamp contract): __cdc_seq persists as bigint, and a
    # fractional seq would collapse distinct sequence numbers under
    # that cast — 1.5 and 1.2 both become 1, compare equal to the
    # stored seq, and the change is silently dropped as 'already
    # applied'. Validated on the STREAM schema so a bad pipeline fails
    # at wiring time, not mid-stream inside a micro-batch.
    _require_sequence_type(change_stream, seq_col, "streaming_cdc_apply",
                           integral_only=True)
    if dest_columns is None:
        dest_columns = [c for c in change_stream.columns
                        if c not in (op_col, seq_col)]
    query = (
        change_stream.writeStream.foreachBatch(
            _cdc_apply_callback(engine, table_name, unique_key,
                                op_col, seq_col, dest_columns,
                                tombstones=tombstones,
                                tombstone_retention_batches=(
                                    tombstone_retention_batches)))
        .trigger(availableNow=True)
        .option("checkpointLocation",
                f"{engine.warehouse_dir}/_checkpoints/{table_name}")
        .start()
    )
    return query


def streaming_rollup_maintenance(
    engine,
    stream: DataFrame,
    table_name: str,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> "object":
    """CONTINUOUS-AGGREGATE maintenance (the Timescale continuous
    aggregate / Materialize shape): a watermarked windowed aggregate
    runs in UPDATE output mode, and every micro-batch MERGES its changed
    (window_start, event_type) rows into a durable rollup table keyed on
    them — so the table always holds the current aggregate per window
    and converges to the exact batch GROUP BY once the stream drains.

    Why update mode (not append): append emits a window only after the
    watermark CLOSES it, so the tail windows would never land in the
    table; update mode re-emits a window's current value whenever it
    changes, and the keyed merge makes re-emission idempotent. Why not
    complete mode: it re-emits EVERY window each batch — state and sink
    traffic grow with history, while update mode's traffic is bounded
    by the watermark horizon. State is watermark-bounded either way on
    the aggregation side; the durable table is what holds history.

    Keys merge NULL-SAFELY (<=>): a NULL event_type is a legitimate
    aggregate group and must CONVERGE — under the ANSI/dbt
    plain-equality join it would re-insert one duplicate row per
    micro-batch forever.

    Returns the StreamingQuery (availableNow — callers await it)."""
    agg = windowed_counts(stream, window=window, watermark=watermark)
    return _start_upsert_sink(
        engine, agg, table_name, output_mode="update",
        **_merge_into(["window_start", "event_type"], None,
                      null_safe_keys=True))


def streaming_theta_maintenance(
    engine,
    stream: DataFrame,
    table_name: str,
    item_col: str,
    group_cols: list[str],
    k: int = 64,
) -> "object":
    """CONTINUOUS distinct-count sketch maintenance: each micro-batch's
    theta/KMV sketch (extensions.sketch.theta_build) is UNIONed into a
    durable sketch table (<= k rows per group) — the streaming
    companion to the batch theta operators, answering "distinct users
    per event type so far" (and, via theta_set_op over two maintained
    sketches, set overlaps) without ever re-scanning history.

    The contract that makes this ORACLE-EXACT, unlike a streaming MG
    summary: theta union is BATCH-INVARIANT — the k smallest of the
    union of per-batch k-smallest hashes equals the k smallest over
    all data (any hash among the global k smallest is necessarily
    among its own batch's k smallest), so the maintained table equals
    theta_build over the fully-drained input bit-for-bit REGARDLESS of
    how the stream was batched. Merge cost is sketch-sized (<= k rows
    per group per side); the durable table is the only state that
    grows — by groups, never by rows seen.

    Returns the StreamingQuery (availableNow — callers await it)."""
    from ..extensions.sketch import theta_build, theta_union

    return _start_upsert_sink(
        engine, stream, table_name,
        build=lambda df: theta_build(df, item_col, group_cols, k=k),
        merge=lambda tbl, sk: theta_union(tbl.unionByName(sk),
                                          group_cols, k))


def _start_upsert_sink(engine, stream: DataFrame, table_name: str,
                       build, merge, output_mode: str | None = None
                       ) -> "object":
    """The one streaming upsert sink (availableNow trigger, checkpointed
    under the warehouse): per micro-batch, ``build(batch_df)`` produces
    the batch's rows and ``merge(durable_table_df, built_df)`` folds them
    into the durable table (atomic-swap committed). The create/refuse/empty
    protocol is the one place it must live: the table is created even
    from an EMPTY first batch (the batch commits to the checkpoint log
    regardless, and a skipped creation would trip the table-loss refusal
    on the next non-empty batch); a missing table with prior commits
    REFUSES re-baseline; empty later batches skip the rewrite (every merge
    here is a no-op on empty input). ``output_mode`` is passed to the
    stream writer (an aggregate re-emitted in "update" mode)."""
    from ..relation import RelationType

    target = engine.relation(table_name, RelationType.Table)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        existing = engine.catalog.get_relation(target)
        if existing is None:
            _require_table_or_fresh(engine, table_name)
            build(batch_df).write.format("parquet").saveAsTable(
                target.render_unquoted())
            return
        if not batch_df.take(1):
            return
        merged = merge(engine.spark.table(target.render_unquoted()),
                       build(batch_df))
        engine.overwrite_table_atomic(target, merged)

    writer = stream.writeStream.foreachBatch(upsert)
    if output_mode:
        writer = writer.outputMode(output_mode)
    return (
        writer.trigger(availableNow=True)
        .option("checkpointLocation",
                f"{engine.warehouse_dir}/_checkpoints/{table_name}")
        .start()
    )


def streaming_bloom_maintenance(
    engine,
    stream: DataFrame,
    table_name: str,
    item_col: str,
    group_cols: list[str],
    m_bits: int = 1 << 13,
    n_hashes: int = 4,
) -> "object":
    """CONTINUOUS membership-sketch maintenance: each micro-batch's
    Bloom bitmap (extensions.sketch.bloom_build) is OR-merged into a
    durable per-group bitmap table — the live blocklist/seen-set the
    batch bloom operators probe, maintained without ever re-scanning
    history ("have we EVER seen this user/URL for this event type?").

    Bitwise OR is associative, commutative AND idempotent, so the
    maintained table is BATCH-INVARIANT (equals bloom_build over the
    fully-drained input bit-for-bit regardless of micro-batch
    boundaries — the theta-maintenance oracle contract) and additionally
    REPLAY-TOLERANT: an at-least-once re-delivered batch ORs to the
    same bitmap. Merge cost is bitmap-bounded (<= ceil(m_bits/63) rows
    per group per side); the durable table grows by groups, never by
    rows seen.

    Returns the StreamingQuery (availableNow — callers await it)."""
    from ..extensions.sketch import bloom_build, bloom_union

    return _start_upsert_sink(
        engine, stream, table_name,
        build=lambda df: bloom_build(df, item_col, group_cols,
                                     m_bits=m_bits, n_hashes=n_hashes),
        merge=lambda tbl, sk: bloom_union(tbl.unionByName(sk),
                                          group_cols))


def streaming_priority_sample_maintenance(
    engine,
    stream: DataFrame,
    table_name: str,
    id_col: str,
    weight_col: str,
    group_cols: list[str],
    k: int = 20,
) -> "object":
    """CONTINUOUS weighted-sample maintenance: each micro-batch's
    top-(k+1) DLT priority state (extensions.sampling.priority_state)
    is merged into a durable <= k+1-rows-per-group table — a live,
    fixed-size, weight-aware sample of everything ever streamed
    ("the k highest-quality documents per source so far"), with the
    subset-sum estimator still attached at read time
    (sampling.priority_sample_finalize), maintained without ever
    re-scanning history.

    Top-(k+1) selection is BATCH-INVARIANT under union + re-truncation
    (any row among the global top-(k+1) priorities is necessarily among
    its own batch's top-(k+1) — the theta-union argument), and the
    priorities themselves are deterministic hash arithmetic, so the
    maintained table equals priority_state over the fully-drained input
    bit-for-bit regardless of micro-batch boundaries — the
    full-strength streaming oracle contract — and exact-duplicate
    re-delivery collapses in the merge (idempotent). Merge cost is
    state-sized (<= k+1 rows per group per side).

    Returns the StreamingQuery (availableNow — callers await it)."""
    from ..extensions.sampling import priority_state, priority_state_merge

    return _start_upsert_sink(
        engine, stream, table_name,
        build=lambda df: priority_state(df, id_col, weight_col, k=k,
                                        group_cols=group_cols),
        merge=lambda tbl, st: priority_state_merge(
            tbl.unionByName(st), id_col, k, group_cols))


def streaming_gram_maintenance(
    engine,
    stream: DataFrame,
    table_name: str,
    vec_col: str,
    scale: float = 1e12,
) -> "object":
    """CONTINUOUS model-statistics maintenance: each micro-batch's
    fixed-point gram state (extensions.similarity.gram_state — the
    DECIMAL(38,0) second-moment/sum/count cells) is element-wise summed
    into a durable d(d+1)/2-row table — live PCA/covariance statistics
    over everything ever streamed, without re-scanning history
    (pca_train-shaped finalization any time via gram_finalize).

    The strongest invariance in the streaming family: integer addition
    is associative AND commutative, so the maintained state equals
    gram_state over the fully-drained input BIT-FOR-BIT regardless of
    micro-batch boundaries — no truncation argument needed (theta/
    priority rely on top-k invariance; this is plain exact algebra).
    NOT re-delivery-idempotent (a re-summed batch double-counts —
    unlike the Bloom OR); exactly-once delivery comes from the
    checkpointed file source, same as the rollup maintenance. Merge
    cost is statistics-sized (d(d+1)/2 rows per side).

    Returns the StreamingQuery (availableNow — callers await it)."""
    from ..extensions.similarity import gram_state, gram_state_merge

    return _start_upsert_sink(
        engine, stream, table_name,
        build=lambda df: gram_state(df, vec_col, scale=scale),
        merge=lambda tbl, st: gram_state_merge(tbl.unionByName(st)))


def streaming_minhash_admission(
    doc_stream: DataFrame,
    hist_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming corpus ADMISSION: each arriving micro-batch of documents
    is near-dup-checked against the history's materialized minhash band
    index (dedup.minhash_incremental_pairs — per-batch cost O(batch),
    never O(history)), then deduped within itself
    (dedup.minhash_lsh_pairs, drop-higher-id), and the survivors are
    appended to BOTH the history text table and the band index so later
    batches dedup against them too — the ingest loop a continuously
    crawled pretraining corpus runs. Executes as an availableNow
    catch-up and returns the admitted (id, text) rows as a batch
    DataFrame.

    State per batch is two appends (admitted text + its band rows); the
    band index is the only thing probed per batch, so steady-state cost
    is O(batch x bands) join rows against an indexed table. In a
    production session the two state tables would be real tables
    (saveAsTable + append) instead of localCheckpoint handles — same
    shapes, durable storage."""
    from ..extensions import dedup as dedup_ops

    # state checkpoints are LAZY: a batch only pays for the history
    # snapshot it actually probes (the final appends of the last batch
    # are never materialized), while the lineage stays capped so the
    # chain can't grow across many batches
    state = {
        "hist": hist_df.select(F.col(id_col), F.col(text_col))
        .localCheckpoint(eager=False),
        "bands": dedup_ops.minhash_band_table(
            hist_df, id_col, text_col, k=k, num_perm=num_perm, bands=bands)
        .localCheckpoint(eager=False),
        "admitted": [],
    }

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        with staged() as st:
            batch = st.checkpoint(
                batch_df.select(F.col(id_col), F.col(text_col)))
            if not batch.take(1):
                return
            # ONE band table per batch, probed twice (vs the history index for
            # cross dups, vs itself for intra dups) — the batch is shingled
            # once for banding and once more only for candidate verification
            bb = st.cache(dedup_ops.minhash_band_table(
                batch, id_col, text_col, k=k, num_perm=num_perm, bands=bands))
            # broadcast the (small) batch band table: the growing history
            # index streams through the probe join without a shuffle, so
            # per-batch shuffle cost stays O(batch) as the index grows
            cross_cand = st.cache(
                F.broadcast(bb).alias("a").join(
                    state["bands"].alias("b"),
                    on=[F.col("a.band") == F.col("b.band"),
                        F.col("a.bh") == F.col("b.bh")])
                .select(F.col("a.id").alias("id_new"),
                        F.col("b.id").alias("id_hist"))
                .dropDuplicates(["id_new", "id_hist"]))
            intra_cand = st.cache(
                bb.alias("a").join(
                    bb.alias("b"),
                    on=[F.col("a.band") == F.col("b.band"),
                        F.col("a.bh") == F.col("b.bh"),
                        F.col("a.id") < F.col("b.id")])
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"]))
            bids = (
                cross_cand.select(F.col("id_new").alias("cid"))
                .unionByName(intra_cand.select(F.col("id_a").alias("cid")))
                .unionByName(intra_cand.select(F.col("id_b").alias("cid")))
                .distinct()
            )
            sh_b = st.cache(
                batch.join(F.broadcast(bids),
                           batch[id_col] == F.col("cid"), "left_semi")
                .select(F.col(id_col).alias("sid"),
                        dedup_ops.char_shingles(text_col, k).alias("sh")))
            sh_h = (
                state["hist"].join(
                    F.broadcast(cross_cand.select("id_hist").distinct()),
                    state["hist"][id_col] == F.col("id_hist"), "left_semi")
                .select(F.col(id_col).alias("sid"),
                        dedup_ops.char_shingles(text_col, k).alias("sh"))
            )

            def jac(a, b):
                return (F.size(F.array_intersect(a, b))
                        / F.size(F.array_union(a, b))).cast("double")

            dropped_new = (
                cross_cand
                .join(sh_b.withColumnRenamed("sh", "sh_a"),
                      cross_cand.id_new == F.col("sid")).drop("sid")
                .join(sh_h.withColumnRenamed("sh", "sh_b"),
                      cross_cand.id_hist == F.col("sid")).drop("sid")
                .where(jac(F.col("sh_a"), F.col("sh_b")) >= threshold)
                .select(F.col("id_new").alias(id_col)).distinct()
            )
            kept_ids = (batch.select(id_col)
                        .join(dropped_new, on=id_col, how="left_anti"))
            dropped_intra = (
                intra_cand
                .join(kept_ids.withColumnRenamed(id_col, "id_a"), on="id_a")
                .join(kept_ids.withColumnRenamed(id_col, "id_b"), on="id_b")
                .join(sh_b.withColumnRenamed("sh", "sh_a"),
                      F.col("id_a") == F.col("sid")).drop("sid")
                .join(sh_b.withColumnRenamed("sh", "sh_b"),
                      F.col("id_b") == F.col("sid")).drop("sid")
                .where(jac(F.col("sh_a"), F.col("sh_b")) >= threshold)
                .select(F.col("id_b").alias(id_col)).distinct()
            )
            kept = (
                batch.join(kept_ids, on=id_col, how="left_semi")
                .join(dropped_intra, on=id_col, how="left_anti")
                .localCheckpoint(eager=True)
            )
            # the admitted docs' band rows are a SLICE of the already-computed
            # batch band table — reuse it (materialized before bb is released)
            # instead of re-shingling the admitted text a third time
            kept_bands = (
                bb.join(kept.select(F.col(id_col).alias("id")),
                        on="id", how="left_semi")
                .localCheckpoint(eager=True)
            )
            state["admitted"].append(kept)
            state["hist"] = (state["hist"].unionByName(kept)
                             .localCheckpoint(eager=False))
            state["bands"] = (state["bands"].unionByName(kept_bands)
                             .localCheckpoint(eager=False))

    # an availableNow catch-up needs no durable checkpoint — use a fresh
    # tempdir (honors TMPDIR; /tmp may be wrong on shared/diskless hosts)
    # and remove it after termination so repeated calls don't accumulate
    ckpt = tempfile.mkdtemp(prefix="spark_admission_")
    try:
        query = (
            doc_stream.writeStream.foreachBatch(admit)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        query.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    if not state["admitted"]:
        return state["hist"].limit(0)
    out = state["admitted"][0]
    for df in state["admitted"][1:]:
        out = out.unionByName(df)
    return out


def read_embedding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over embeddings.parquet — vector batches
    arriving from a continuous embedding job (the ingest side of a
    vector database). Same parity guarantees as read_event_stream."""
    return _read_file_stream(spark, sf_dir, "embeddings.parquet")


def streaming_vector_admission(
    vec_stream: DataFrame,
    hist_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    exact: bool = False,
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """Streaming VECTOR admission — the embedding counterpart of
    :func:`streaming_minhash_admission`: each arriving micro-batch of
    vectors is near-dup-checked against the admitted HISTORY (cosine >=
    ``threshold`` drops the new vector), then deduped within itself
    (for an intra-batch pair of survivors, the higher id drops — same
    rule as the minhash path), and survivors join the history so later
    batches screen against them. Executes as an availableNow catch-up
    and returns the admitted (id, vector) rows as a batch DataFrame.
    Feed the result to similarity.ivf_pq_index_append to grow a
    compressed vector index in the same pass (tested composition).

    ``exact=False`` (default) screens via similarity.cross_cosine_pairs
    — cell-blocked candidates with exact JVM-fold cosines, per-batch
    cost O(batch x probed cells), the 100 TB path; blocking can miss a
    qualifying pair (bounded by the probe config). ``exact=True`` scores
    the full batch x history cross (broadcast batch, history streams
    through unshuffled — one O(batch x history) compute pass, no
    shuffle growth): the deterministic reference mode the oracle gates,
    and a fine choice while history fits a scan budget.

    ARRIVAL-ORDER ASSUMPTION (shared with streaming_minhash_admission):
    the intra-batch "higher id drops" rule matches the batch-semantics
    oracle only when colliding ids arrive in the same micro-batch or in
    ascending-id batch order. If a LATER micro-batch delivers a lower id
    that collides with an earlier-admitted higher id, the lower id is
    dropped (admission is first-come-wins by construction — an admitted
    vector cannot be retroactively un-admitted once emitted downstream),
    while a single-batch oracle would keep it. File-source replays of a
    monotone-id table satisfy the assumption; out-of-order producers get
    first-come-wins semantics, not lowest-id-wins."""
    from ..extensions import similarity as sim_ops

    dot = ("aggregate(zip_with(b.v, h.v, (x, y) ->"
           " cast(x as double) * y), 0D, (acc, x) -> acc + x)")

    state = {
        "hist": hist_df.select(F.col(id_col), F.col(vec_col))
        .localCheckpoint(eager=False),
        "admitted": [],
    }

    def _norm_side(df: DataFrame, alias: str) -> DataFrame:
        nrm = (f"sqrt(aggregate(zip_with({vec_col}, {vec_col}, (x, y) ->"
               f" cast(x as double) * y), 0D, (acc, x) -> acc + x))")
        return df.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("v"),
                         F.expr(nrm).alias("nrm")).alias(alias)

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        with staged() as st:
            batch = st.checkpoint(
                batch_df.select(F.col(id_col), F.col(vec_col)))
            if not batch.take(1):
                return
            if exact:
                b = _norm_side(batch, "b")
                h = _norm_side(state["hist"], "h")
                cross_dropped = (
                    F.broadcast(b).join(h, on=F.expr(
                        f"{dot} / (b.nrm * h.nrm) >= {threshold!r}D"))
                    .select(F.col("b.id").alias(id_col)).distinct()
                )
            else:
                cross_dropped = (
                    sim_ops.cross_cosine_pairs(
                        batch, state["hist"], id_col, vec_col,
                        threshold=threshold, n_cells=n_cells, nprobe=nprobe)
                    .select(F.col("new_id").alias(id_col)).distinct()
                )
            kept1 = st.checkpoint(
                batch.join(cross_dropped, on=id_col, how="left_anti"))
            # intra-batch among cross-survivors: exact pairs, higher id drops
            from ..extensions import dedup as dedup_ops

            pairs = dedup_ops.embedding_cosine_pairs(
                kept1, id_col, vec_col, threshold=threshold)
            dropped_b = pairs.select(F.col("id_b").alias(id_col)).distinct()
            kept = kept1.join(dropped_b, on=id_col, how="left_anti") \
                .localCheckpoint(eager=True)
            state["admitted"].append(kept)
            state["hist"] = (state["hist"].unionByName(kept)
                             .localCheckpoint(eager=False))

    ckpt = tempfile.mkdtemp(prefix="spark_vec_admission_")
    try:
        query = (
            vec_stream.writeStream.foreachBatch(admit)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        query.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    if not state["admitted"]:
        return state["hist"].limit(0)
    out = state["admitted"][0]
    for df in state["admitted"][1:]:
        out = out.unionByName(df)
    return out


_SESSION_SCHEMA = (
    "user_id bigint, session_id int, n_events int, "
    "session_start timestamp, session_end timestamp"
)
_STATE_SCHEMA = "last_ts long, session_id int, n int, start_ts long"


def sessionize_stateful(stream: DataFrame, gap_minutes: int = 30,
                        use_timeout: bool = False) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user session
    assembly with an inactivity gap. Emits closed sessions; open sessions
    remain in state.

    ``use_timeout=True`` adds a processing-time timeout that flushes idle
    sessions — use it ONLY for continuous streams: under
    ``trigger(availableNow)`` a processing-time timeout keeps scheduling
    wake-up batches and the query never terminates (observed on Spark 4.1).

    The Spark-provided primitives (window/session_window) can't express
    per-group custom state transitions; this is the documented escape hatch
    (SURVEY §2C UDF row: pandas-grouped-state)."""
    import pandas as pd

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter: Iterable["pd.DataFrame"], state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            last_ts, session_id, n, start_ts = state.get
            state.remove()
            yield pd.DataFrame({
                "user_id": [user_id], "session_id": [session_id],
                "n_events": [n],
                "session_start": [pd.Timestamp(start_ts, unit="us")],
                "session_end": [pd.Timestamp(last_ts, unit="us")],
            })
            return
        rows = pd.concat(list(pdf_iter)).sort_values("ts")
        # Arrow batches may arrive as datetime64[us] or [ns]; normalize
        ts_us = (
            pd.to_datetime(rows["ts"]).astype("datetime64[us]")
            .astype("int64").tolist()
        )
        if state.exists:
            last_ts, session_id, n, start_ts = state.get
        else:
            last_ts, session_id, n, start_ts = None, 0, 0, None
        out = []
        for t in ts_us:
            if last_ts is not None and t - last_ts > gap_us:
                out.append((user_id, session_id, n,
                            pd.Timestamp(start_ts, unit="us"),
                            pd.Timestamp(last_ts, unit="us")))
                session_id += 1
                n, start_ts = 0, t
            if start_ts is None:
                start_ts = t
            n += 1
            last_ts = t
        state.update((last_ts, session_id, n, start_ts))
        if use_timeout:
            state.setTimeoutDuration(gap_minutes * 60 * 1000)
        if out:
            yield pd.DataFrame(out, columns=[
                "user_id", "session_id", "n_events", "session_start",
                "session_end",
            ])

    return (
        stream.groupBy("user_id").applyInPandasWithState(
            fn,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout if use_timeout
                         else GroupStateTimeout.NoTimeout),
        )
    )


def streaming_ams_maintenance(
    engine,
    stream: DataFrame,
    table_name: str,
    item_col: str,
    group_cols: list[str] | None = None,
    r: int = 64,
) -> "object":
    """CONTINUOUS self-join-size (F2) statistics maintenance: each
    micro-batch's AMS sketch (extensions.sketch.ams_build — r +-1
    estimator sums per group) is element-wise summed into a durable
    r-rows-per-group table, so "how concentrated is this key column?"
    (skew detection, join-size estimation via ams_f2_estimate) is
    answerable at any moment without re-scanning history.

    The AMS sketch is LINEAR, so this inherits the gram-maintenance
    invariance — integer addition is associative and commutative, and
    the maintained table equals ams_build over the fully-drained input
    BIT-FOR-BIT regardless of micro-batch boundaries. Same honest
    caveat as gram: addition is NOT re-delivery-idempotent; exactly-once
    comes from the checkpointed source, not the merge.

    Returns the StreamingQuery (availableNow — callers await it)."""
    from ..extensions.sketch import ams_build, ams_merge

    return _start_upsert_sink(
        engine, stream, table_name,
        build=lambda df: ams_build(df, item_col, group_cols, r=r),
        merge=lambda tbl, sk: ams_merge(tbl.unionByName(sk), group_cols))
