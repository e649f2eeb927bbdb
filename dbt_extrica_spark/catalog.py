"""Catalog / metadata introspection (SURVEY §2 A14-A25).

Reference implements these as information_schema / system.metadata queries
(macros/adapters.sql, macros/catalog.sql, macros/apply_grants.sql); here they
compose ``spark.catalog`` + DESCRIBE/SHOW, which are driver-side metadata
calls — no cluster work, safe at any scale.
"""

from __future__ import annotations

import json
import threading
import uuid
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession

from .column import Column
from .errors import CompilationError, DatabaseError
from .relation import Relation, RelationType
from .session import local_frame

MAX_COLUMNS = 10_000  # reference: macros/adapters.sql:12-19
_UNDESCRIBED = object()  # swap_in: describe the target itself


def properties_clause(properties: dict | None) -> str:
    """A25 — WITH (k = v) -> TBLPROPERTIES (reference: macros/adapters.sql:81-90)."""
    if not properties:
        return ""
    esc = lambda s: str(s).replace("'", "''")  # noqa: E731
    kv = ", ".join(
        f"'{esc(k)}' = '{esc(v)}'" for k, v in properties.items()
    )
    return f" TBLPROPERTIES ({kv})"


def table_clauses(file_format: str = "parquet", comment: str | None = None,
                  partition_by: list[str] | None = None,
                  bucket_by: list[str] | None = None, buckets: int = 0,
                  properties: dict | None = None) -> str:
    """The CREATE TABLE clauses that follow the column list: USING,
    COMMENT, PARTITIONED BY, CLUSTERED BY ... INTO n BUCKETS and
    TBLPROPERTIES."""
    names = lambda cols: ", ".join(f"`{c}`" for c in cols)  # noqa: E731
    out = f" USING {file_format.lower()}"
    if comment:
        out += " COMMENT '%s'" % comment.replace("'", "''")
    if partition_by:
        out += f" PARTITIONED BY ({names(partition_by)})"
    if bucket_by and buckets:
        out += f" CLUSTERED BY ({names(bucket_by)}) INTO {int(buckets)} BUCKETS"
    return out + properties_clause(properties)


class CatalogClient:
    """Stateful metadata client. Tracks what vanilla OSS Spark can't:
    materialized-view identity (A11), view definitions (for renames, A20),
    and a grants registry (A24 — OSS Spark has no SQL GRANT; reference
    semantics are preserved as bookkeeping)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._lock = threading.Lock()
        self.mv_definitions: dict[tuple[str, str], str] = {}
        self.view_definitions: dict[tuple[str, str], str] = {}
        self.grants: dict[tuple[str, str], dict[str, set[str]]] = {}

    # -- schemas (A16, A19) --------------------------------------------------
    def list_schemas(self) -> list[str]:
        """Reference: macros/adapters.sql:214-222 (information_schema.schemata).
        ``SHOW DATABASES`` runs no Spark job (``catalog.listDatabases``
        iterates its result with jobs)."""
        return [r.namespace for r in self.spark.sql("SHOW DATABASES").collect()]

    def check_schema_exists(self, schema: str) -> bool:
        """Reference: macros/adapters.sql:224-231."""
        return self.spark.catalog.databaseExists(schema.lower())

    def create_schema(self, schema: str, location: str | None = None) -> None:
        loc = (" LOCATION '%s'" % location.replace("'", "''")) if location else ""
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{schema.lower()}`{loc}")

    def drop_schema(self, schema: str) -> None:
        """A19 — reference loops relations because Trino lacks CASCADE
        (macros/adapters.sql:172-185); Spark has native CASCADE."""
        schema = schema.lower()
        self.spark.sql(f"DROP DATABASE IF EXISTS `{schema}` CASCADE")
        with self._lock:
            for reg in (self.mv_definitions, self.view_definitions, self.grants):
                for key in [k for k in reg if k[0] == schema]:
                    del reg[key]

    # -- relations (A15, A18, A20) --------------------------------------------
    def get_relation(self, relation: Relation) -> Relation | None:
        """Typed lookup; None when missing (reference load_relation pattern)."""
        if not self.spark.catalog.tableExists(relation.render_unquoted()):
            return None
        tbl = self.spark.catalog.getTable(relation.render_unquoted())
        key = (relation.schema, relation.identifier)
        if key in self.mv_definitions:
            rtype = RelationType.MaterializedView
        elif tbl.tableType == "VIEW":
            rtype = RelationType.View
        else:
            rtype = RelationType.Table
        return relation.incorporate(rtype)

    def list_relations_without_caching(self, schema: str) -> list[Relation]:
        """A15 — reference: macros/adapters.sql:29-49 (information_schema.tables
        LEFT JOIN system.metadata.materialized_views); ours: ``SHOW TABLES``
        typed by ``SHOW VIEWS`` and the MV registry. Neither statement runs
        a Spark job (``catalog.listTables`` iterates its result with
        jobs)."""
        schema = schema.lower()
        if not self.check_schema_exists(schema):
            return []

        def names(what: str) -> list[str]:  # (namespace, name, isTemporary)
            return [r[1] for r in self.spark.sql(
                f"SHOW {what} IN `{schema}`").collect() if not r.isTemporary]

        views = set(names("VIEWS"))
        out = []
        for name in names("TABLES"):
            if (schema, name.lower()) in self.mv_definitions:
                rtype = RelationType.MaterializedView
            elif name in views:
                rtype = RelationType.View
            else:
                rtype = RelationType.Table
            out.append(Relation(name, schema=schema, type=rtype))
        return out

    def drop_relation(self, relation: Relation) -> None:
        """A18 — DROP {TABLE|VIEW|MATERIALIZED VIEW} IF EXISTS (reference:
        macros/adapters.sql:156-159)."""
        existing = self.get_relation(relation)
        rtype = (relation.type or (existing.type if existing else None)
                 or RelationType.Table)
        name = relation.render()
        if rtype == RelationType.View:
            self.spark.sql(f"DROP VIEW IF EXISTS {name}")
        else:  # tables and emulated MVs are both backed by tables
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        with self._lock:
            key = (relation.schema, relation.identifier)
            self.mv_definitions.pop(key, None)
            self.view_definitions.pop(key, None)
            self.grants.pop(key, None)

    def rename_relation(self, from_relation: Relation, to_relation: Relation) -> None:
        """A20 — ALTER ... RENAME TO (reference: macros/adapters.sql:188-193).
        Spark cannot rename a view -> drop + recreate from the stored
        definition (SURVEY §7.2(5))."""
        existing = self.get_relation(from_relation)
        if existing is None:
            raise DatabaseError(f"Cannot rename missing relation {from_relation}")
        fkey = (from_relation.schema, from_relation.identifier)
        tkey = (to_relation.schema, to_relation.identifier)
        if existing.is_view:
            sql_text = self.view_definitions.get(fkey)
            if sql_text is None:
                # the stored body verbatim -- unlike scanning SHOW CREATE
                # TABLE for ' AS ', not fooled by a trailing column alias
                sql_text = self.describe_table(from_relation)["view_text"]
            self.spark.sql(f"DROP VIEW IF EXISTS {from_relation.render()}")
            self.spark.sql(
                f"CREATE OR REPLACE VIEW {to_relation.render()} AS {sql_text}"
            )
        else:
            partitioned = bool(
                (self.describe_table(from_relation) or {}).get(
                    "partition_columns"))
            self.spark.sql(
                f"ALTER TABLE {from_relation.render()} RENAME TO {to_relation.render()}"
            )
            if partitioned:  # re-point partitions: see swap_in
                self.spark.sql(
                    f"MSCK REPAIR TABLE {to_relation.render()} SYNC PARTITIONS")
        with self._lock:
            for reg in (self.mv_definitions, self.view_definitions, self.grants):
                if fkey in reg:
                    reg[tkey] = reg.pop(fkey)

    def swap_in(self, target: Relation,
                create_stage: Callable[[Relation], object],
                old: dict | None | object = _UNDESCRIBED) -> None:
        """The stage-and-swap commit every table rebuild goes through
        (reference: table.sql:12-48, rename mode): readers see the old rows
        or the new ones, never a missing or empty table.

        ``create_stage(stage)`` builds ``<target>__stg_<hex>``; the target
        is renamed to ``<target>__bak_<hex>`` (a view occupant, which cannot
        be renamed, is dropped instead), the stage into place, and the
        backup is dropped. ``old`` is the target's :meth:`describe_table`
        when the caller already has it (None: no target).

        ``ALTER TABLE ... RENAME`` moves a managed table's directory but not
        its partition locations, so partitions are re-pointed after each
        rename of a partitioned table. The backup's still point into the
        target directory, which the stage is about to occupy: ``MSCK ...
        DROP PARTITIONS`` unregisters them (keeping the files) while that
        directory is vacant, so dropping the backup deletes only the
        backup's own directory. The new target's are re-read from its
        directory with ``MSCK ... SYNC PARTITIONS``.

        On failure the renames are undone newest first (each renamed-back
        table re-synced) and the stage is dropped, so the target keeps its
        old rows. A failed backup drop propagates after the commit and
        leaves the backup behind."""
        token = uuid.uuid4().hex[:8]
        stage = target.with_identifier(f"{target.identifier}__stg_{token}")
        backup = target.with_identifier(f"{target.identifier}__bak_{token}")
        undo = [lambda: self.spark.sql(
            f"DROP TABLE IF EXISTS {stage.render()}")]

        def move(src: Relation, dst: Relation, repair: str | None) -> None:
            self.spark.sql(f"ALTER TABLE {src.render()} RENAME TO {dst.render()}")
            undo.append(lambda: move(dst, src, repair and "SYNC"))
            if repair:
                self.spark.sql(
                    f"MSCK REPAIR TABLE {dst.render()} {repair} PARTITIONS")

        def partitioned(desc: dict | None) -> bool:
            return bool((desc or {}).get("partition_columns"))

        try:
            create_stage(stage)
            if old is _UNDESCRIBED:
                old = self.describe_table(target)
            if old is not None and old.get("type") == "VIEW":
                self.drop_relation(target.incorporate(RelationType.View))
                old = None
            if old is not None:
                move(target, backup, "DROP" if partitioned(old) else None)
            move(stage, target,
                 "SYNC" if partitioned(self.describe_table(stage)) else None)
        except BaseException:
            for step in reversed(list(undo)):
                step()
            raise
        if old is not None:
            self.spark.sql(f"DROP TABLE {backup.render()}")

    def describe_table(self, relation: Relation) -> dict | None:
        """``DESCRIBE TABLE EXTENDED ... AS JSON`` (catalog metadata, no
        Spark job): type, provider, partition and bucket columns, comment,
        table properties. None when the relation does not exist."""
        try:
            row = self.spark.sql(
                f"DESCRIBE TABLE EXTENDED {relation.render()} AS JSON").first()
        except AnalysisException as exc:
            if "NOT_FOUND" in (exc.getCondition() or ""):
                return None
            raise
        return json.loads(row[0])

    # -- columns (A14, A21, A22) ----------------------------------------------
    def get_columns_in_relation(self, relation: Relation) -> list[Column]:
        """A14 — DESCRIBE-based column objects; missing table -> [] (not an
        error); >10,000 columns -> CompilationError (reference:
        macros/adapters.sql:6-26 + impl.py:71-78)."""
        if self.get_relation(relation) is None:
            return []
        rows = self.spark.sql(f"DESCRIBE TABLE {relation.render()}").collect()
        cols: list[Column] = []
        for r in rows:
            name = r.col_name
            if not name or name.startswith("#"):
                break  # partition/detail section separator
            cols.append(Column.from_description(name, r.data_type))
        if len(cols) >= MAX_COLUMNS:
            raise CompilationError(
                f"Too many columns in relation {relation}! dbt can process a "
                f"maximum of {MAX_COLUMNS} columns."
            )
        return cols

    def add_columns(self, relation: Relation, columns: list[Column]) -> None:
        """A21 add side — native ADD COLUMNS."""
        if not columns:
            return
        spec = ", ".join(f"`{c.name}` {c.data_type}" for c in columns)
        self.spark.sql(f"ALTER TABLE {relation.render()} ADD COLUMNS ({spec})")

    def remove_columns(self, relation: Relation, columns: list[Column]) -> None:
        """A21 drop side — parquet v1 tables cannot DROP COLUMN; rewrite the
        table without those columns (SURVEY A21 note)."""
        if not columns:
            return
        drop = {c.name.lower() for c in columns}
        current = [c.name for c in self.get_columns_in_relation(relation)
                   if c.name.lower() not in drop]
        select = ", ".join(f"`{c}`" for c in current)
        self.rewrite_table(relation, f"SELECT {select} FROM {relation.render()}")

    def alter_column_type(self, relation: Relation, column_name: str,
                          new_column_type: str) -> None:
        """A22 — reference does add-tmp/UPDATE/drop/rename
        (macros/adapters.sql:297-312); vanilla Spark has no UPDATE, so this is
        a single-pass cast rewrite with the same end state.

        char/varchar targets take the declared-schema path: Spark's CAST
        'does not support char/varchar type and simply treats them as
        string' (CharVarcharUtils), so a cast rewrite would erase the
        length. Declaring the new schema and INSERTing preserves it (and
        keeps every untouched varchar(n)/char(n) column's size — reference
        keeps sizes through describe, column.py:62-109)."""
        cols = self.get_columns_in_relation(relation)
        base = new_column_type.lower().split("(")[0].strip()
        if base in ("varchar", "char"):
            decls, selects = [], []
            for c in cols:
                if c.name.lower() == column_name.lower():
                    decls.append(f"`{c.name}` {new_column_type}")
                    selects.append(f"CAST(`{c.name}` AS STRING) AS `{c.name}`")
                else:
                    decls.append(f"`{c.name}` {c.data_type}")
                    selects.append(f"`{c.name}`")
            self.rewrite_table(
                relation,
                f"SELECT {', '.join(selects)} FROM {relation.render()}", decls)
            return
        parts = []
        for c in cols:
            if c.name.lower() == column_name.lower():
                parts.append(f"CAST(`{c.name}` AS {new_column_type}) AS `{c.name}`")
            else:
                parts.append(f"`{c.name}`")
        self.rewrite_table(
            relation, f"SELECT {', '.join(parts)} FROM {relation.render()}")

    def expand_target_column_types(self, from_relation: Relation,
                                   to_relation: Relation) -> None:
        """dbt's expand_target_column_types: widen target string/decimal
        columns to fit the source (reference keeps varchar(n)/char(n) sizes
        through describe, column.py:62-109; dbt widens the smaller side).
        A bounded target string column (varchar(n)/char(n)) widens to the
        source's type when the source is larger — including unbounded
        sources, which widen to bare varchar."""
        src = {c.name.lower(): c for c in self.get_columns_in_relation(from_relation)}
        for tgt_col in self.get_columns_in_relation(to_relation):
            s = src.get(tgt_col.name.lower())
            if s is None:
                continue
            if s.is_string() and tgt_col.is_string():
                if s.string_size() > tgt_col.string_size():
                    new_type = s.data_type
                    if new_type.lower() in ("string", "varchar"):
                        new_type = "string"  # Spark's unbounded string type
                    self.alter_column_type(to_relation, tgt_col.name, new_type)
                continue
            if not (s.is_numeric() and tgt_col.is_numeric()):
                continue
            sp, ss = s.numeric_precision or 0, s.numeric_scale or 0
            tp, ts = tgt_col.numeric_precision or 0, tgt_col.numeric_scale or 0
            if sp > tp or ss > ts:
                self.alter_column_type(
                    to_relation, tgt_col.name,
                    f"decimal({max(sp, tp)},{max(ss, ts)})",
                )

    def rewrite_table(self, relation: Relation, select_sql: str,
                      decls: list[str] | None = None,
                      old: dict | None | object = _UNDESCRIBED) -> None:
        """Replace ``relation`` with ``select_sql``'s rows through
        :meth:`swap_in`, keeping its provider, partitioning, buckets,
        comment and table properties. ``decls`` declares the new column
        list explicitly -- required when it carries char/varchar lengths,
        which a CTAS of a CAST would silently erase (Spark
        CharVarcharUtils). ``old``: as for :meth:`swap_in`."""
        if old is _UNDESCRIBED:
            old = self.describe_table(relation)
        d = old or {}
        clauses = table_clauses(
            d.get("provider") or "parquet", d.get("comment"),
            d.get("partition_columns"), d.get("bucket_columns"),
            d.get("num_buckets", 0), d.get("table_properties"))

        def create_stage(stage: Relation) -> None:
            if decls is None:
                self.spark.sql(
                    f"CREATE TABLE {stage.render()}{clauses} AS {select_sql}")
                return
            # DESCRIBE order is the physical order (partition columns
            # last), so the positional INSERT lines up with ``decls``
            self.spark.sql(
                f"CREATE TABLE {stage.render()} ({', '.join(decls)}){clauses}")
            self.spark.sql(f"INSERT INTO {stage.render()} {select_sql}")

        self.swap_in(relation, create_stage, old)

    # -- comments (A23) --------------------------------------------------------
    def persist_relation_docs(self, relation: Relation, comment: str) -> None:
        """Reference: COMMENT ON TABLE/VIEW (macros/adapters.sql:196-203);
        ours: TBLPROPERTIES('comment')."""
        escaped = comment.replace("'", "''")
        existing = self.get_relation(relation)
        if existing is not None and existing.is_view:
            self.spark.sql(
                f"ALTER VIEW {relation.render()} "
                f"SET TBLPROPERTIES ('comment' = '{escaped}')"
            )
        else:
            self.spark.sql(
                f"ALTER TABLE {relation.render()} "
                f"SET TBLPROPERTIES ('comment' = '{escaped}')"
            )

    def persist_column_docs(self, relation: Relation,
                            column_comments: dict[str, str | None]) -> None:
        """Reference: COMMENT ON COLUMN, NULL clears (macros/adapters.sql:205-211)."""
        for col, comment in column_comments.items():
            if comment is None:
                self.spark.sql(
                    f"ALTER TABLE {relation.render()} "
                    f"ALTER COLUMN `{col}` COMMENT ''"
                )
            else:
                escaped = comment.replace("'", "''")
                self.spark.sql(
                    f"ALTER TABLE {relation.render()} "
                    f"ALTER COLUMN `{col}` COMMENT '{escaped}'"
                )

    def get_relation_comment(self, relation: Relation) -> str | None:
        d = self.describe_table(relation) or {}
        return d.get("comment") or (d.get("table_properties") or {}).get(
            "comment")

    # -- grants (A24) -----------------------------------------------------------
    def show_grants(self, relation: Relation) -> dict[str, set[str]]:
        """Reference: information_schema.table_privileges with lowercased
        privilege (apply_grants.sql:1-9); ours: the registry, falling back
        to the TBLPROPERTIES copy (durable across catalog clients)."""
        with self._lock:
            stored = self.grants.get((relation.schema, relation.identifier))
            if stored is not None:
                return {p: set(g) for p, g in stored.items()}
        return self._grants_from_properties(relation)

    def _grants_from_properties(self, relation: Relation) -> dict[str, set[str]]:
        import json

        try:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {relation.render()}").collect()
        except Exception:
            return {}
        for r in rows:
            if r.key == "dbt_grants":
                try:
                    loaded = json.loads(r.value)
                    return {p: set(g) for p, g in loaded.items()}
                except Exception:
                    return {}
        return {}

    def apply_grants(self, relation: Relation,
                     grant_config: dict[str, list[str]] | None,
                     should_revoke: bool = True) -> None:
        """Reference: one GRANT per grantee, no multi-grantee statements
        (apply_grants.sql:29-37), copy_grants=False (apply_grants.sql:11-23).
        OSS Spark has no SQL grants -> bookkeeping with identical diff logic."""
        if grant_config is None:
            return
        import json

        key = (relation.schema, relation.identifier)
        desired = {priv.lower(): set(gs) for priv, gs in grant_config.items()}
        with self._lock:
            if should_revoke:
                # diff semantics: anything not in the config is revoked
                self.grants[key] = desired
            else:
                merged = {p: set(g) for p, g in self.grants.get(key, {}).items()}
                for p, gs in desired.items():
                    merged.setdefault(p, set()).update(gs)
                self.grants[key] = merged
            final = {p: sorted(g) for p, g in self.grants[key].items()}
        # durable copy (SURVEY A24: log + store in TBLPROPERTIES); views
        # would need ALTER VIEW — grants on tables/MVs only, best-effort
        try:
            payload = json.dumps(final).replace("'", "''")
            self.spark.sql(
                f"ALTER TABLE {relation.render()} "
                f"SET TBLPROPERTIES ('dbt_grants' = '{payload}')"
            )
        except Exception:
            pass

    # -- full catalog (A17) -------------------------------------------------------
    def get_catalog(self, schemas: list[str]) -> DataFrame:
        """A17 — one row per column across the requested schemas, same output
        columns and ordering as reference: macros/catalog.sql:124-140. The
        frame holds ``catalog_rows``: collecting it runs no Spark job."""
        return local_frame(self.spark, self.catalog_rows(schemas), (
            "table_database string, table_schema string, table_name string,"
            " table_type string, table_comment string, column_name string,"
            " column_index int, column_type string, column_comment string,"
            " table_owner string"))

    def catalog_rows(self, schemas: list[str]) -> list[Row]:
        """get_catalog's rows from catalog metadata alone, sorted by schema,
        table name and column index."""
        rows: list[Row] = []
        for rel in [r for s in schemas
                    for r in self.list_relations_without_caching(s)]:
            comment = None
            try:
                comment = self.get_relation_comment(rel)
            except Exception:
                pass
            type_word = (rel.type or RelationType.Table).ddl_word
            described = self.spark.sql(f"DESCRIBE TABLE {rel.render()}").collect()
            idx = 0
            for r in described:
                if not r.col_name or r.col_name.startswith("#"):
                    break
                rows.append(Row(
                    table_database="spark_catalog",
                    table_schema=rel.schema,
                    table_name=rel.identifier,
                    table_type=type_word,
                    table_comment=comment,
                    column_name=r.col_name,
                    column_index=idx,
                    column_type=r.data_type,
                    column_comment=r.comment if hasattr(r, "comment") else None,
                    table_owner=None,
                ))
                idx += 1
        return sorted(rows, key=lambda r: (r.table_schema, r.table_name,
                                           r.column_index))
