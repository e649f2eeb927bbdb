"""Materialization orchestration: table / view / incremental / materialized
view (SURVEY §2 A1-A2, A5-A11, A25).

The reference implements these as Jinja materialization blocks emitting Trino
DDL/DML (reference: macros/materializations/*.sql, macros/adapters.sql). Here
each is a Python function against a shared :class:`~..engine.Engine`.

Commit protocol: every rebuild of an existing table goes through
:meth:`~..catalog.CatalogClient.swap_in` -- the reference's table 'rename'
mode (reference: table.sql:12-48). The new table is built under a staging
name, renamed into place, and the old one is dropped, so readers never see
a missing or empty target and a failed build leaves the previous version.
``swap_in`` repairs partitions after each rename: Spark's rename moves the
table directory but not the partition locations, and the backup's drop
would otherwise delete the new table's files.

Row rewrites of an existing table (merge, delete+insert,
insert_overwrite, microbatch periods, snapshots) commit through
:func:`~.merge.rewrite_rows`, which routes by the table's own layout: a
partitioned table rewrites only the partitions the change touches, an
unpartitioned one is swapped whole. The model's ``partition_by`` is read
only where a table is created.
"""

from __future__ import annotations

from typing import TYPE_CHECKING



from ..catalog import properties_clause, table_clauses  # noqa: F401 (re-exported A25 helper)
from ..errors import CompilationError, DatabaseError
from ..relation import Relation, RelationType
from ..staging import Stage
from . import merge as merge_ops

if TYPE_CHECKING:  # pragma: no cover
    from ..engine import Engine
    from ..plans.model import Model


# --------------------------------------------------------------------------
# DDL helpers (A1, A2, A25)
# --------------------------------------------------------------------------

def create_table_as(
    engine: "Engine",
    relation: Relation,
    sql: str,
    properties: dict | None = None,
    comment: str | None = None,
    contract: list[dict] | None = None,
    file_format: str = "parquet",
    partition_by: list[str] | None = None,
    bucket_by: list[str] | None = None,
    buckets: int = 0,
    sort_by: list[str] | None = None,
) -> None:
    """A1 — CTAS (reference: macros/adapters.sql:102-133). With an enforced
    contract, splits into CREATE TABLE (cols) + schema-asserted INSERT
    (reference: macros/adapters.sql:105-121).

    Scale levers the reference delegates to Trino connectors, exposed here
    as Spark-native clauses:
    - ``file_format``: the Spark datasource (parquet default; orc/json/csv)
    - ``partition_by``: PARTITIONED BY -> static + dynamic partition
      pruning on downstream reads
    - ``bucket_by``/``buckets``: CLUSTERED BY ... INTO n BUCKETS ->
      co-located (exchange-free) joins/aggs on the bucket key
    - ``sort_by``: SORT BY inside the CTAS select (per-partition sort) ->
      tight parquet min/max stats on the sort columns, enabling row-group
      skipping for range predicates
    """
    if sort_by:
        cols = ", ".join(f"`{c}`" for c in sort_by)
        sql = f"SELECT * FROM ({sql}) __sorted SORT BY {cols}"
    clauses = table_clauses(file_format, comment, partition_by, bucket_by,
                            buckets, properties)
    if contract:
        cols_ddl = ", ".join(
            f"`{c['name']}` {c['data_type']}" for c in contract
        )
        engine.spark.sql(
            f"CREATE TABLE {relation.render()} ({cols_ddl}){clauses}")
        assert_columns_equivalent(engine, relation, sql, contract)
        enforce_not_null(engine, sql, contract)
        # explicit column list: a bare INSERT INTO maps POSITIONALLY
        # against the table's PHYSICAL order, which moves partition
        # columns last — a contract that declares the partition column
        # anywhere else would silently cross-write columns (review r10)
        col_list = ", ".join(f"`{c['name']}`" for c in contract)
        engine.spark.sql(
            f"INSERT INTO {relation.render()} ({col_list}) {sql}")
    else:
        engine.spark.sql(f"CREATE TABLE {relation.render()}{clauses} AS {sql}")


def assert_columns_equivalent(engine: "Engine", relation: Relation, sql: str,
                              contract: list[dict]) -> None:
    """Contract enforcement (reference: macros/adapters.sql:105-121 via dbt's
    assert_columns_equivalent): the SELECT's column names/order AND data
    types must match the declared contract."""
    from ..column import Column as EngineColumn

    fields = engine.spark.sql(sql).schema.fields
    actual = [f.name.lower() for f in fields]
    declared = [c["name"].lower() for c in contract]
    if actual != declared:
        raise CompilationError(
            "This model has an enforced contract that failed.\n"
            f"Declared columns: {declared}\nActual columns:   {actual}"
        )
    for f, c in zip(fields, contract):
        want = EngineColumn.from_description(c["name"], c["data_type"]) \
            .spark_type()
        if f.dataType != want:
            raise CompilationError(
                "This model has an enforced contract that failed.\n"
                f"Column {f.name!r}: declared type {c['data_type']!r} "
                f"({want.simpleString()}), actual {f.dataType.simpleString()}"
            )


def enforce_not_null(engine: "Engine", sql: str, contract: list[dict]) -> None:
    """A35 — not_null is the only ENFORCED constraint (reference:
    impl.py:31-37); checked before write since parquet has no constraints."""
    nn_cols = [
        c["name"] for c in contract
        if any(k.get("type") == "not_null" for k in c.get("constraints", []))
    ]
    if not nn_cols:
        return
    cond = " OR ".join(f"`{c}` IS NULL" for c in nn_cols)
    bad = engine.spark.sql(f"SELECT 1 FROM ({sql}) WHERE {cond} LIMIT 1").count()
    if bad:
        raise DatabaseError(
            f"NOT NULL constraint violated on columns {nn_cols}"
        )


def create_view_as(engine: "Engine", relation: Relation, sql: str,
                   security: str = "definer") -> None:
    """A2 — CREATE OR REPLACE VIEW (reference: macros/adapters.sql:136-153).
    Trino's SECURITY definer|invoker clause has no Spark equivalent; the
    config is validated and recorded but not enforced (default 'definer',
    reference: impl.py:22)."""
    if security not in ("definer", "invoker"):
        raise CompilationError(
            f"Invalid value for view_security: {security!r}"
        )  # reference validates the config the same way
    engine.spark.sql(f"CREATE OR REPLACE VIEW {relation.render()} AS {sql}")
    engine.catalog.view_definitions[(relation.schema, relation.identifier)] = sql


# --------------------------------------------------------------------------
# table materialization (A9)
# --------------------------------------------------------------------------

def materialize_table(engine: "Engine", model: "Model") -> Relation:
    """A9 — two modes (reference: table.sql:1-70): 'rename' (default)
    rebuilds an existing relation through :meth:`CatalogClient.swap_in`;
    'drop' drops then CTAS."""
    config = model.config
    mode = config.get("on_table_exists", "rename")
    if mode not in ("rename", "drop"):
        raise CompilationError(
            f"Invalid value for on_table_exists: {mode!r}"
        )  # reference: table.sql:2-7
    target = engine.relation(model.name, RelationType.Table)
    existing = engine.catalog.get_relation(target)
    sql = engine.compile_sql(model)
    comment = model.description if config.get("persist_docs") else None
    contract = config.get("contract_columns") if (
        config.get("contract", {}).get("enforced")
    ) else None

    def create(relation: Relation) -> None:
        create_table_as(engine, relation, sql, comment=comment,
                        contract=contract, **_config_layout(config))

    if mode == "drop" or existing is None:
        if existing is not None:
            engine.catalog.drop_relation(existing)
        create(target)
    else:
        engine.catalog.swap_in(target, create)  # rename mode (table.sql:12-48)
    engine.apply_model_hooks_and_grants(model, target)
    return target


def _config_layout(config: dict) -> dict:
    """The model config's table layout, as :func:`create_table_as`
    keyword arguments."""
    return dict(
        properties=config.get("properties"),
        file_format=config.get("file_format", "parquet"),
        partition_by=config.get("partition_by"),
        bucket_by=config.get("bucket_by"),
        buckets=config.get("buckets", 0),
        sort_by=config.get("sort_by"),
    )


# --------------------------------------------------------------------------
# view materialization (A10)
# --------------------------------------------------------------------------

def materialize_view(engine: "Engine", model: "Model",
                     full_refresh: bool = False) -> Relation:
    """A10 — create_or_replace_view (reference: view.sql:1-8 +
    macros/adapters.sql:266-295): a non-view occupant is dropped only under
    --full-refresh."""
    target = engine.relation(model.name, RelationType.View)
    existing = engine.catalog.get_relation(target)
    if existing is not None and not existing.is_view:
        if full_refresh:
            engine.catalog.drop_relation(existing)
        else:
            raise DatabaseError(
                f"Trying to create view {target} but it is a "
                f"{existing.type.value}. Run with --full-refresh to drop it."
            )  # reference: macros/adapters.sql:280-287
    sql = engine.compile_sql(model)
    create_view_as(engine, target, sql,
                   security=model.config.get("view_security", "definer"))
    engine.apply_model_hooks_and_grants(model, target)
    return target


# --------------------------------------------------------------------------
# incremental materialization (A5-A8)
# --------------------------------------------------------------------------

# The merge strategy stages a view-typed batch once with localCheckpoint
# and broadcasts it EXPLICITLY: a checkpointed DataFrame carries no size
# statistics, so without the hint the planner degrades every branch to
# sort-merge joins. The hint is guarded by a row cap: a batch this size at
# ~100B-1KB/row stays far under the 8 GB / 512M-row broadcast-relation cap,
# while a larger batch is persisted instead, whose materialized
# InMemoryRelation gives the planner accurate stats to choose broadcast vs
# shuffle on its own.
_STAGE_BCAST_ROW_CAP = 4_000_000

VALID_STRATEGIES = ("default", "append", "merge", "delete+insert",
                    "microbatch", "insert_overwrite")
# impl.py:80-81 (+ dbt 1.9 microbatch, dbt-spark insert_overwrite)
SCHEMA_CHANGE_MODES = ("ignore", "fail", "append_new_columns", "sync_all_columns")


def tmp_relation_type(strategy: str, unique_key, views_enabled: bool = True) -> str:
    """Reference: incremental.sql:1-19 — view for single-statement strategies,
    table (materialized input) for delete+insert's two passes."""
    if views_enabled and (strategy in ("default", "append", "merge") or unique_key is None):
        return "view"
    return "table"


def materialize_incremental(engine: "Engine", model: "Model",
                            full_refresh: bool = False) -> Relation:
    """A5 — the incremental state machine (reference: incremental.sql:21-110)."""
    config = model.config
    strategy = config.get("incremental_strategy") or "default"
    if strategy not in VALID_STRATEGIES:
        raise CompilationError(
            f"Invalid incremental strategy provided: {strategy}"
        )
    unique_key = config.get("unique_key")
    on_schema_change = config.get("on_schema_change", "ignore")
    if on_schema_change not in SCHEMA_CHANGE_MODES:
        on_schema_change = "ignore"

    target = engine.relation(model.name, RelationType.Table)
    existing = engine.catalog.get_relation(target)
    sql = engine.compile_sql(model, is_incremental=existing is not None
                             and not full_refresh and not existing.is_view)
    partition_by = config.get("partition_by")
    comment = model.description if config.get("persist_docs") else None
    contract = config.get("contract_columns") if (
        config.get("contract", {}).get("enforced")
    ) else None

    # first run / view occupant / full refresh -> plain CTAS (contract
    # enforced exactly as on the table path — the reference's
    # extrica__create_table_as applies the contract on every create,
    # including incremental first runs; incremental.sql:21-40)
    if existing is None or existing.is_view or full_refresh:
        if existing is not None:
            engine.catalog.drop_relation(existing)
        if strategy == "microbatch":
            _run_microbatch(engine, model, target, sql, config,
                            first_run=True, comment=comment,
                            contract=contract)
            engine.apply_model_hooks_and_grants(model, target)
            return target
        create_table_as(engine, target, sql, config.get("properties"),
                        comment, contract,
                        file_format=config.get("file_format", "parquet"),
                        partition_by=partition_by)
        engine.apply_model_hooks_and_grants(model, target)
        return target

    # subsequent incremental runs re-validate the enforced contract against
    # the new batch's compiled SELECT before any write: name/type drift and
    # NULLs in not_null columns must fail the run, not land in the target.
    # Microbatch enforces NOT NULL per batch inside _run_microbatch (dbt
    # 1.9 runs each batch as its own statement): a NULL outside the
    # processed period window must not fail the run, and one inside it
    # must fail that batch before its write.
    if contract:
        assert_columns_equivalent(engine, target, sql, contract)
        if strategy != "microbatch":
            enforce_not_null(engine, sql, contract)

    if strategy == "microbatch":
        _run_microbatch(engine, model, target, sql, config, first_run=False,
                        contract=contract)
        engine.apply_model_hooks_and_grants(model, target)
        return target

    # create the temp relation: view (lazy) for merge/append, table
    # (materialized) for delete+insert's two passes (incremental.sql:1-19);
    # python models always materialize (a persistent view can't reference
    # the temp view their DataFrame compiles to)
    ttype = "table" if model.df_builder is not None else tmp_relation_type(
        strategy, unique_key, config.get("views_enabled", True))
    tmp = target.make_temp().incorporate(
        RelationType.View if ttype == "view" else RelationType.Table
    )
    pre = engine.catalog.get_relation(tmp)
    if pre is not None:
        engine.catalog.drop_relation(pre)
    if ttype == "view":
        create_view_as(engine, tmp, sql)
    else:
        engine.spark.sql(
            f"CREATE TABLE {tmp.render()} USING PARQUET AS {sql}"
        )

    st = Stage()
    try:
        engine.catalog.expand_target_column_types(tmp, target)
        dest_columns = process_schema_changes(engine, on_schema_change, tmp, target)
        if not dest_columns:
            dest_columns = [c.name for c in
                            engine.catalog.get_columns_in_relation(target)]

        predicates = config.get("predicates") or config.get("incremental_predicates")
        # Stage the batch once: the temp VIEW's SELECT otherwise re-evaluates
        # on every strategy-branch action -- the duplicate-key probe, each
        # join arm of the merge rewrite, the partition-scope probes. Only
        # the merge strategy re-evaluates a view-typed batch; append and
        # insert_overwrite evaluate it once and delete+insert already
        # materializes a tmp TABLE. Released in the finally below.
        src_df = engine.spark.table(tmp.render_unquoted())
        if ttype == "view" and strategy == "merge" and unique_key:
            from pyspark.sql import functions as _F

            ck = st.checkpoint(src_df, eager=False)
            if ck.count() <= _STAGE_BCAST_ROW_CAP:  # count materializes ck
                src_df = _F.broadcast(ck)
            else:
                src_df = st.cache(ck)
                src_df.count()
        tgt_df = engine.spark.table(target.render_unquoted())
        batch = src_df.select(*dest_columns)

        if strategy in ("default", "append") or (
            strategy == "merge" and not unique_key
        ):
            rows = merge_ops.append_only(src_df, tgt_df, dest_columns)
            rows.write.insertInto(target.render_unquoted(), overwrite=False)
        elif strategy == "insert_overwrite":
            # dbt-spark's classic strategy (not in the Trino reference,
            # which has no partition-overwrite primitive): replace exactly
            # the partitions the batch writes rows into; an unpartitioned
            # table is replaced whole (dbt-spark semantics).
            merge_ops.rewrite_rows(engine, target, lambda rows: batch,
                                   [batch])
        elif strategy == "merge":
            update_columns = merge_ops.get_merge_update_columns(
                config.get("merge_update_columns"),
                config.get("merge_exclude_columns"),
                dest_columns,
            )
            keys = merge_ops._key_list(unique_key)
            # the batch's partitions ∪ those holding key-matched target
            # rows (a key-only superset of the matched set is safe — extra
            # partitions just rewrite unchanged)
            matched = tgt_df.join(src_df.select(*keys).distinct(), on=keys,
                                  how="left_semi")
            merge_ops.rewrite_rows(
                engine, target,
                lambda rows: merge_ops.merge_upsert(
                    rows, src_df, unique_key, dest_columns, update_columns,
                    predicates),
                [batch, matched])
        else:  # delete+insert
            touched = [batch]
            if unique_key:
                # the rows the column-wise delete removes: their
                # partitions may lie outside the batch's
                doomed = tgt_df
                for k in merge_ops._key_list(unique_key):
                    doomed = doomed.join(
                        src_df.select(k).where(src_df[k].isNotNull())
                        .distinct(), on=k, how="left_semi")
                for p in predicates or []:
                    doomed = doomed.where(p)
                touched.append(doomed)
            merge_ops.rewrite_rows(
                engine, target,
                lambda rows: merge_ops.delete_insert(
                    rows, src_df, unique_key, dest_columns, predicates),
                touched)
    finally:
        st.close()
        tmp_existing = engine.catalog.get_relation(tmp)
        if tmp_existing is not None:
            engine.catalog.drop_relation(tmp_existing)

    engine.apply_model_hooks_and_grants(model, target)
    return target


# --------------------------------------------------------------------------
# microbatch strategy (dbt 1.9-style event-time batches)
# --------------------------------------------------------------------------

_BATCH_SIZES = ("hour", "day", "month", "year")


def _trunc_batch(dt, unit: str):
    if unit == "hour":
        return dt.replace(minute=0, second=0, microsecond=0)
    if unit == "day":
        return dt.replace(hour=0, minute=0, second=0, microsecond=0)
    if unit == "month":
        return dt.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    return dt.replace(month=1, day=1, hour=0, minute=0, second=0,
                      microsecond=0)


def _shift_batch(dt, unit: str, n: int):
    """dt +/- n whole batch periods (dt must already be batch-aligned)."""
    from datetime import timedelta

    if unit == "hour":
        return dt + timedelta(hours=n)
    if unit == "day":
        return dt + timedelta(days=n)
    if unit == "month":
        m = dt.month - 1 + n
        return dt.replace(year=dt.year + m // 12, month=m % 12 + 1)
    return dt.replace(year=dt.year + n)


def _parse_ts(value):
    from datetime import datetime

    return value if not isinstance(value, str) else datetime.fromisoformat(value)


def _run_microbatch(engine: "Engine", model: "Model", target: Relation,
                    sql: str, config: dict, first_run: bool,
                    comment: str | None = None,
                    contract: list[dict] | None = None) -> None:
    """dbt 1.9-style microbatch incremental (event-time batched
    insert_overwrite; dbt-core 1.9 microbatch docs — NOT in the reference,
    which predates it; included for forward parity).

    Semantics: the model output is split into ``batch_size`` periods of
    ``event_time``. Each period is processed independently and idempotently:
    the target's rows for that period are REPLACED by the batch's rows
    (delete+insert on the period range — Spark's replace_where analog).

    - first build: periods from ``begin`` through ``event_time_end``
      (defaults to the source's max event time — deterministic, no wall
      clock), first period via CTAS (contract enforced), rest appended.
    - incremental runs: periods from ``lookback`` batches before the
      target's max event time (late-data reprocessing window) through the
      source's end; each period is rewritten.
    - on a target partitioned by the period column the rewrite is
      partition-scoped (:func:`~.merge.rewrite_rows`) — the 100 TB path: a
      day's batch rewrites one partition, not the table.

    Batches are independent — batch-at-a-time also bounds executor memory
    at scale, mirroring why dbt runs them as separate statements. An
    enforced contract's NOT NULL check runs per batch on the batch's
    period slice (never the whole SELECT): a NULL outside the processed
    window cannot fail the run, one inside fails exactly that batch, and
    earlier batches of the same run stay committed.
    """
    from pyspark.sql import functions as F

    event_time = config.get("event_time")
    if not event_time:
        raise CompilationError(
            "microbatch models require an 'event_time' config"
        )
    batch_size = config.get("batch_size", "day")
    if batch_size not in _BATCH_SIZES:
        raise CompilationError(
            f"Invalid batch_size {batch_size!r}; one of {_BATCH_SIZES}"
        )
    lookback = int(config.get("lookback", 1))
    spark = engine.spark
    src_df = spark.sql(sql)
    if event_time not in src_df.columns:
        raise CompilationError(
            f"microbatch model must project its event_time column "
            f"{event_time!r}"
        )

    end_cfg = config.get("event_time_end")
    if end_cfg is not None:
        end = _parse_ts(end_cfg)
    else:
        end = src_df.agg(F.max(F.col(event_time))).first()[0]

    begin_cfg = config.get("begin")
    if first_run or begin_cfg is None:
        max_t = None
    else:
        max_t = spark.table(target.render_unquoted()) \
            .agg(F.max(F.col(event_time))).first()[0]
    if first_run or max_t is None:
        if begin_cfg is None:
            raise CompilationError(
                "microbatch first build requires a 'begin' config"
            )
        start = _trunc_batch(_parse_ts(begin_cfg), batch_size)
    else:
        start = _shift_batch(_trunc_batch(max_t, batch_size), batch_size,
                             -lookback)

    batches: list[tuple] = []
    if end is not None:
        b = start
        while b <= end:
            nxt = _shift_batch(b, batch_size, 1)
            batches.append((b, nxt))
            b = nxt

    def lit(ts) -> str:
        return "TIMESTAMP '%s'" % ts.isoformat(sep=" ")

    def period_sql(s, e) -> str:
        return (f"`{event_time}` >= {lit(s)} AND `{event_time}` < {lit(e)}")

    if first_run:
        if not batches:  # empty window: create the (empty) target shape
            create_table_as(engine, target, f"SELECT * FROM ({sql}) WHERE 1=0",
                            config.get("properties"), comment, contract,
                            file_format=config.get("file_format", "parquet"),
                            partition_by=config.get("partition_by"))
            return
        s, e = batches[0]
        create_table_as(
            engine, target,
            f"SELECT * FROM ({sql}) __mb WHERE {period_sql(s, e)}",
            config.get("properties"), comment, contract,
            file_format=config.get("file_format", "parquet"),
            partition_by=config.get("partition_by"))
        # positional insert: align to the table's PHYSICAL column order
        # (partitioned tables move partition columns to the end)
        table_cols = spark.table(target.render_unquoted()).columns
        for s, e in batches[1:]:
            # per-batch contract: CTAS enforced NOT NULL on batch 0 only;
            # every appended batch must pass the same check before write
            if contract:
                enforce_not_null(
                    engine,
                    f"SELECT * FROM ({sql}) __mb WHERE {period_sql(s, e)}",
                    contract)
            src_df.where(F.expr(period_sql(s, e))).select(*table_cols) \
                .write.insertInto(target.render_unquoted(), overwrite=False)
        return

    # dbt 1.9 applies on_schema_change against the first batch's schema,
    # before any period is written — the compiled SELECT's schema here.
    from ..column import Column as _Col

    on_schema_change = config.get("on_schema_change", "ignore")
    if on_schema_change not in SCHEMA_CHANGE_MODES:
        on_schema_change = "ignore"
    src_cols = [_Col(f.name, f.dataType.simpleString())
                for f in src_df.schema.fields]
    dest_columns = process_schema_changes_from_columns(
        engine, on_schema_change, src_cols, target)
    if not dest_columns:
        dest_columns = [c.name for c in
                        engine.catalog.get_columns_in_relation(target)]
    # each batch is processed independently with per-batch retry (dbt 1.9
    # runs batches as separate statements with retries: transient executor
    # loss mid-batch must not fail the whole backfill). A batch is
    # idempotent — replace-of-period — and every attempt re-reads the
    # target, so a retry after a partial failure converges.
    retries = int(config.get("batch_retries", 0))
    for s, e in batches:
        period = F.expr(period_sql(s, e))
        batch_rows = src_df.where(period).select(*dest_columns)
        if contract:
            enforce_not_null(
                engine,
                f"SELECT * FROM ({sql}) __mb WHERE {period_sql(s, e)}",
                contract)
        attempt = 0
        while True:
            try:
                merge_ops.rewrite_rows(
                    engine, target,
                    lambda rows, _p=period, _b=batch_rows: (
                        rows.where(~_p).unionByName(_b)),
                    [batch_rows,
                     spark.table(target.render_unquoted()).where(period)])
                break
            except Exception:
                attempt += 1
                if attempt > retries:
                    raise


def process_schema_changes(engine: "Engine", mode: str, source: Relation,
                           target: Relation) -> list[str] | None:
    """dbt's on_schema_change processing (reference: incremental.sql:79-86
    delegates to dbt-core; semantics reproduced):

    - ignore: no DDL; dest columns = current target columns
    - fail: raise on any add/remove
    - append_new_columns: ADD new source columns to target
    - sync_all_columns: ADD new + DROP removed (parquet drop = rewrite)
    Returns the post-change dest column list (None for ignore/no-op).
    """
    src_cols = engine.catalog.get_columns_in_relation(source)
    return process_schema_changes_from_columns(engine, mode, src_cols, target)


def process_schema_changes_from_columns(
        engine: "Engine", mode: str, src_cols: list,
        target: Relation) -> list[str] | None:
    """Schema-change core for sources that are DataFrames rather than
    relations (the microbatch path has no temp relation — dbt 1.9 applies
    on_schema_change against the first batch's compiled schema)."""
    tgt_cols = engine.catalog.get_columns_in_relation(target)
    src_names = {c.name.lower() for c in src_cols}
    tgt_names = {c.name.lower() for c in tgt_cols}
    added = [c for c in src_cols if c.name.lower() not in tgt_names]
    removed = [c for c in tgt_cols if c.name.lower() not in src_names]
    if mode == "ignore" or (not added and not removed):
        return None
    if mode == "fail":
        raise CompilationError(
            "The source and target schemas on this incremental model are out "
            f"of sync.\n  added: {[c.name for c in added]}\n"
            f"  removed: {[c.name for c in removed]}"
        )
    if mode == "append_new_columns":
        engine.catalog.add_columns(target, added)
        # re-read the target: the writes downstream are POSITIONAL
        # insertInto, and Spark puts added columns BEFORE the partition
        # columns — `old + added` would write partition values into the
        # new column on every partitioned target (review r10)
        return [c.name for c in engine.catalog.get_columns_in_relation(target)]
    # sync_all_columns
    engine.catalog.add_columns(target, added)
    engine.catalog.remove_columns(target, removed)
    return [c.name for c in engine.catalog.get_columns_in_relation(target)]


# --------------------------------------------------------------------------
# materialized view emulation (A11)
# --------------------------------------------------------------------------

def materialize_materialized_view(engine: "Engine", model: "Model",
                                  full_refresh: bool = False) -> Relation:
    """A11 — Spark has no MVs; emulate as managed table + stored defining SQL
    (reference: materialized_view.sql:1-35). Any config change forces full
    refresh (materialized_view.sql:24-30); replace uses the same
    :meth:`CatalogClient.swap_in` as tables (materialized_view.sql:11-21)."""
    target = engine.relation(model.name, RelationType.MaterializedView)
    key = (target.schema, target.identifier)
    sql = engine.compile_sql(model)
    existing = engine.catalog.get_relation(target)
    stored = engine.catalog.mv_definitions.get(key)
    if existing is not None and stored == sql and not full_refresh:
        return target  # no-op, like dbt's 'alter' path with no changes

    def create(relation: Relation) -> None:
        create_table_as(engine, relation, sql, **_config_layout(model.config))

    if existing is not None:
        engine.catalog.swap_in(target, create)
    else:
        create(target)
    engine.catalog.mv_definitions[key] = sql
    engine.apply_model_hooks_and_grants(model, target)
    return target


def refresh_materialized_view(engine: "Engine", relation: Relation) -> None:
    """A11 — REFRESH MATERIALIZED VIEW (reference: materialized_view.sql:33-35):
    re-run the stored definition and swap."""
    key = (relation.schema, relation.identifier)
    sql = engine.catalog.mv_definitions.get(key)
    if sql is None:
        raise DatabaseError(f"{relation} is not a materialized view")
    df = engine.spark.sql(sql)
    engine.overwrite_table_atomic(relation, df)
