"""The Engine: materialization orchestration over one SparkSession.

This is the top-level object a reference user would swap their dbt
profile+project for. It owns:

- a schema (database) with an explicit warehouse LOCATION,
- source registration (parquet -> catalog objects),
- the materialization dispatch (table/view/incremental/mv/seed/snapshot),
- the stage-and-swap commit protocol shared by every destructive write
  (reference: table.sql:12-48 rename mode),
- execution (statement splitting / bindings / cursors) via
  :class:`~.connections.ExecutionManager`,
- metadata via :class:`~.catalog.CatalogClient`.

Scale posture: sources and models are catalog objects backed by parquet;
every transformation is expressed to Catalyst as SQL/DataFrame ops (predicate
pushdown, column pruning, AQE join planning all apply). Nothing data-plane is
ever collected to the driver.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from .catalog import _UNDESCRIBED, CatalogClient
from .connections import AdapterResponse, ExecutionManager, ResultCursor
from .errors import CompilationError, EngineError, map_exception
from .operators import materializations as mats
from .operators import seeds as seed_ops
from .operators import snapshot as snap_ops
from .plans.model import Model
from .relation import Relation, RelationType
from .session import configure_session
from .sources.registry import TEST_TABLES, _nanos_columns, _ntz_columns


class Engine:
    # Capability flags (A36 — reference: impl.py:39-45)
    CAPABILITIES = {
        "SchemaMetadataByRelations": "Full",
        "TableLastModifiedMetadata": "Unsupported",
    }
    # Constraint support (A35 — reference: impl.py:31-37)
    CONSTRAINT_SUPPORT = {
        "not_null": "ENFORCED",
        "check": "NOT_SUPPORTED",
        "unique": "NOT_SUPPORTED",
        "primary_key": "NOT_SUPPORTED",
        "foreign_key": "NOT_SUPPORTED",
    }

    def __init__(
        self,
        spark: SparkSession,
        schema: str | None = None,
        warehouse_dir: str | None = None,
        prepared_statements_enabled: bool = True,
    ):
        configure_session(spark)
        self.spark = spark
        self.schema = (schema or f"analytics_{uuid.uuid4().hex[:8]}").lower()
        self._owns_warehouse = warehouse_dir is None
        self.warehouse_dir = warehouse_dir or tempfile.mkdtemp(
            prefix="dbt_extrica_spark_wh_"
        )
        self.catalog = CatalogClient(spark)
        self.exec = ExecutionManager(spark, prepared_statements_enabled)
        self.catalog.create_schema(
            self.schema, location=os.path.join(self.warehouse_dir, self.schema)
        )
        self.sources: dict[str, Relation] = {}
        # --defer state (set_defer): disarmed by default
        self._defer_schema: str | None = None
        self._defer_candidates: set[str] = set()
        self._defer_favor_state = False

    # ------------------------------------------------------------------
    # naming / resolution
    # ------------------------------------------------------------------
    def relation(self, identifier: str,
                 type: RelationType | str | None = None) -> Relation:
        rel = Relation(identifier, schema=self.schema)
        return rel.incorporate(type) if type else rel

    def ref(self, name: str) -> str:
        """Resolve ``{ref:name}``. With deferral active (``set_defer``,
        the dbt ``--defer --state`` workflow) a ref to an UNSELECTED
        model resolves to the state (prod) schema's relation instead of
        the target schema — unless the target schema already holds the
        relation (a prior dev build), which wins, dbt's default;
        ``favor_state=True`` inverts that tie-break (dbt
        --favor-state). Selected models always resolve to the target
        schema: this run is about to (re)build them there."""
        rel = self.relation(name)
        if name in self._defer_candidates:
            if self._defer_favor_state or not self.spark.catalog.tableExists(
                    rel.render_unquoted()):
                return Relation(name, schema=self._defer_schema).render()
        return rel.render()

    def set_defer(self, state_schema: str, candidates: set[str],
                  favor_state: bool = False) -> None:
        """Arm ref-deferral: ``candidates`` (state-manifest models NOT in
        the current selection) resolve to ``state_schema`` per dbt's
        --defer rules. Call with an empty set to disarm."""
        self._defer_schema = state_schema
        self._defer_candidates = set(candidates)
        self._defer_favor_state = bool(favor_state)

    def source(self, name: str) -> str:
        if name in self.sources:
            return self.sources[name].render()
        raise CompilationError(f"Unknown source: {name}")

    # ------------------------------------------------------------------
    # sources
    # ------------------------------------------------------------------
    def register_sources(self, sf_dir: str,
                         tables: tuple[str, ...] = TEST_TABLES) -> None:
        """Register parquet files as catalog objects (external table, plus a
        converting view when the file stores TIMESTAMP(NANOS) or a
        timezone-less timestamp that Spark 4 reads as TIMESTAMP_NTZ — see
        sources/registry.py: type normalization happens at the source
        boundary). Catalog objects (not temp views) so persistent model
        views may reference them."""
        for name in tables:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            ns_cols = _nanos_columns(path)
            ntz_cols = _ntz_columns(path)
            if ns_cols or ntz_cols:
                raw = self.relation(f"{name}__raw")
                if self.catalog.get_relation(raw) is None:
                    self.spark.sql(
                        f"CREATE TABLE {raw.render()} USING PARQUET "
                        f"LOCATION '{path}'"
                    )
                cols = []
                for f in self.spark.table(raw.render_unquoted()).schema.fields:
                    if f.name in ns_cols:
                        cols.append(
                            f"timestamp_micros(`{f.name}` div 1000) AS `{f.name}`"
                        )
                    elif f.name in ntz_cols:
                        cols.append(
                            f"CAST(`{f.name}` AS TIMESTAMP) AS `{f.name}`"
                        )
                    else:
                        cols.append(f"`{f.name}`")
                view = self.relation(name)
                self.spark.sql(
                    f"CREATE OR REPLACE VIEW {view.render()} AS "
                    f"SELECT {', '.join(cols)} FROM {raw.render()}"
                )
                self.sources[name] = view.incorporate(RelationType.View)
            else:
                rel = self.relation(name)
                if self.catalog.get_relation(rel) is None:
                    self.spark.sql(
                        f"CREATE TABLE {rel.render()} USING PARQUET "
                        f"LOCATION '{path}'"
                    )
                self.sources[name] = rel.incorporate(RelationType.Table)

    # ------------------------------------------------------------------
    # compilation
    # ------------------------------------------------------------------
    def compile_sql(self, model: Model, is_incremental: bool = False) -> str:
        """Resolve a model to executable SQL. Python models (df_builder)
        register their DataFrame as a temp view and compile to a SELECT over
        it — the analog of dbt's python-model materialization, letting every
        SQL materialization path work unchanged."""
        if model.df_builder is not None:
            df = model.df_builder(self)
            view = f"__py_model_{model.name}_{uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(view)
            return f"SELECT * FROM {view}"
        this = self.relation(model.name).render()
        sql = model.render(self.ref, self.source, this, is_incremental)
        if model.config.get("dialect") == "trino":
            # a reference user's model bodies are Trino SQL; rewrite the
            # Trino-specific function names so they run on spark.sql()
            from .functions.dialect import translate_trino_sql

            sql = translate_trino_sql(sql)
        return sql

    # ------------------------------------------------------------------
    # materialization dispatch
    # ------------------------------------------------------------------
    def materialize(self, model: Model, full_refresh: bool = False) -> Relation:
        """Dispatch a model build. Exceptions surface through the reference's
        taxonomy (DatabaseError / FailedToConnectError / RuntimeEngineError,
        reference: connections.py:236-258)."""
        try:
            return self._materialize(model, full_refresh)
        except EngineError:
            raise
        except Exception as exc:  # noqa: BLE001
            raise map_exception(exc) from exc

    def _materialize(self, model: Model, full_refresh: bool = False) -> Relation:
        kind = model.materialized
        if model.df_builder is not None and kind in ("view", "materialized_view"):
            raise CompilationError(
                "Python (df_builder) models must materialize as table/"
                "incremental — a persistent view cannot reference the "
                "temporary view a DataFrame compiles to."
            )
        if kind == "table":
            return mats.materialize_table(self, model)
        if kind == "view":
            return mats.materialize_view(self, model, full_refresh)
        if kind == "incremental":
            return mats.materialize_incremental(self, model, full_refresh)
        if kind == "materialized_view":
            return mats.materialize_materialized_view(self, model, full_refresh)
        if kind == "seed":
            return seed_ops.seed(
                self, model.name, model.sql or "",
                column_types=model.config.get("column_types"),
                delimiter=model.config.get("delimiter", ","),
                properties=model.config.get("properties"),
            )
        if kind == "snapshot":
            cfg = model.config
            return snap_ops.snapshot(
                self, model.name, self.compile_sql(model),
                unique_key=cfg["unique_key"],
                strategy=cfg.get("strategy", "timestamp"),
                updated_at=cfg.get("updated_at"),
                check_cols=cfg.get("check_cols"),
                invalidate_hard_deletes=cfg.get("invalidate_hard_deletes", False),
                snapshot_time=cfg.get("snapshot_time"),
                partition_by=cfg.get("partition_by"),
            )
        raise CompilationError(f"Unknown materialization: {kind!r}")

    def refresh_materialized_view(self, name: str) -> None:
        mats.refresh_materialized_view(self, self.relation(name))

    # ------------------------------------------------------------------
    # hooks & grants (reference: incremental.sql:46,100-106)
    # ------------------------------------------------------------------
    def apply_model_hooks_and_grants(self, model: Model, target: Relation) -> None:
        for hook in model.post_hooks:
            self.exec.add_query(hook)
        grants = model.config.get("grants")
        if grants is not None:
            self.catalog.apply_grants(target, grants, should_revoke=True)
        if model.config.get("persist_docs") and model.description:
            self.catalog.persist_relation_docs(target, model.description)

    def run_pre_hooks(self, model: Model) -> None:
        for hook in model.pre_hooks:
            self.exec.add_query(hook)

    # ------------------------------------------------------------------
    # commit protocol
    # ------------------------------------------------------------------
    def overwrite_table_atomic(self, relation: Relation, df: DataFrame,
                               old: dict | None | object = _UNDESCRIBED
                               ) -> None:
        """Replace ``relation``'s rows with ``df`` by the stage-and-swap
        commit (:meth:`CatalogClient.swap_in`), keeping its layout
        (:meth:`CatalogClient.rewrite_table`; ``old``: the relation's
        description when the caller already has it)."""
        view = f"__swap_src_{uuid.uuid4().hex[:8]}"
        df.createOrReplaceTempView(view)
        try:
            self.catalog.rewrite_table(relation, f"SELECT * FROM {view}",
                                       old=old)
        finally:
            self.spark.catalog.dropTempView(view)

    # ------------------------------------------------------------------
    # execution passthrough
    # ------------------------------------------------------------------
    def execute(self, sql: str, bindings=None) -> tuple[AdapterResponse, ResultCursor]:
        return self.exec.execute(sql, bindings=bindings)

    def add_query(self, sql: str, bindings=None) -> tuple[AdapterResponse, ResultCursor]:
        return self.exec.add_query(sql, bindings=bindings)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        from .sources.registry import normalize_ntz

        # NTZ can reach the catalog via tables written before the source
        # boundary normalized types; the cast is a no-op projection otherwise.
        return normalize_ntz(
            self.spark.table(self.relation(name).render_unquoted()))

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def compact_table(self, name: str, target_files: int | None = None) -> None:
        """Small-file compaction: rewrite a table into ~target_files files
        per partition-less table (or per partition, via the same atomic
        swap). Incremental appends accumulate small files; periodic
        compaction restores scan efficiency — the OPTIMIZE analog for plain
        parquet tables."""
        relation = self.relation(name)
        df = self.spark.table(relation.render_unquoted())
        n = target_files or max(
            1, self.spark.sparkContext.defaultParallelism // 4)
        self.overwrite_table_atomic(relation, df.coalesce(n))

    # ------------------------------------------------------------------
    # docs (A17 consumer — the `dbt docs generate` analog)
    # ------------------------------------------------------------------
    def generate_docs(self) -> dict:
        """Catalog document for this engine's schema: one entry per relation
        with type, comment, and ordered columns (built from get_catalog's
        rows, which mirror the reference's catalog query output columns,
        reference: macros/catalog.sql:124-140). Catalog metadata only: no
        Spark job."""
        out: dict = {"schema": self.schema, "relations": {}}
        for row in self.catalog.catalog_rows([self.schema]):
            rel = out["relations"].setdefault(row.table_name, {
                "type": row.table_type,
                "comment": row.table_comment,
                "columns": [],
            })
            rel["columns"].append({
                "name": row.column_name,
                "index": row.column_index,
                "type": row.column_type,
                "comment": row.column_comment,
            })
        return out

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------
    def close(self) -> None:
        """Drop this engine's schema and its warehouse files."""
        try:
            self.catalog.drop_schema(self.schema)
        finally:
            if self._owns_warehouse:
                shutil.rmtree(self.warehouse_dir, ignore_errors=True)

    def __enter__(self) -> "Engine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
