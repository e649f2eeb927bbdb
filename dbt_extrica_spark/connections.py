"""Execution management: statement splitting, eager execution, cursor-style
result buffers, parameter binding, cancellation, error mapping.

Reference: connections.py:116-361 —
- ``ConnectionWrapper.execute`` eagerly fetches all rows so DDL effects
  persist despite lazy cursors (connections.py:185-198). Spark actions are
  explicit, so ``execute`` runs ``spark.sql`` and collects.
- ``add_query`` splits multi-statement scripts with sqlparse, strips trailing
  ';' and comment-only fragments (connections.py:318-357). sqlparse is not in
  this environment; :func:`split_statements` is a small quote/comment-aware
  splitter with the same observable behavior.
- prepared statements: '?' placeholders (connections.py:24,185-198) map to
  Spark's parameterized SQL (``spark.sql(q, args=[...])``); the non-prepared
  path reproduces the manual escaping rules (connections.py:204-224).
- cancellation via job-group (reference cancels the cursor,
  connections.py:135-137,315-316).
"""

from __future__ import annotations

import datetime as _dt
import threading
from dataclasses import dataclass
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession

from .errors import DatabaseError, RuntimeEngineError, map_exception


# --------------------------------------------------------------------------
# statement splitting (reference: connections.py:325-335)
# --------------------------------------------------------------------------

def split_statements(script: str) -> list[str]:
    """Split a SQL script on ';' outside quotes/comments; drop empty and
    comment-only fragments; strip a trailing ';' from each statement."""
    statements: list[str] = []
    buf: list[str] = []
    i, n = 0, len(script)
    in_squote = in_dquote = in_bquote = False
    in_line_comment = in_block_comment = False
    while i < n:
        ch = script[i]
        nxt = script[i + 1] if i + 1 < n else ""
        if in_line_comment:
            buf.append(ch)
            if ch == "\n":
                in_line_comment = False
        elif in_block_comment:
            buf.append(ch)
            if ch == "*" and nxt == "/":
                buf.append(nxt)
                i += 1
                in_block_comment = False
        elif in_squote:
            buf.append(ch)
            if ch == "'":
                if nxt == "'":
                    buf.append(nxt)
                    i += 1
                else:
                    in_squote = False
        elif in_dquote:
            buf.append(ch)
            if ch == '"':
                in_dquote = False
        elif in_bquote:
            buf.append(ch)
            if ch == "`":
                in_bquote = False
        elif ch == "-" and nxt == "-":
            buf.append(ch)
            in_line_comment = True
        elif ch == "/" and nxt == "*":
            buf.append(ch)
            in_block_comment = True
        elif ch == "'":
            buf.append(ch)
            in_squote = True
        elif ch == '"':
            buf.append(ch)
            in_dquote = True
        elif ch == "`":
            buf.append(ch)
            in_bquote = True
        elif ch == ";":
            statements.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    statements.append("".join(buf))

    out: list[str] = []
    for stmt in statements:
        s = stmt.strip()
        if not s:
            continue
        if _is_comment_only(s):
            # reference strips fragments that begin with a comment marker
            # (connections.py:331-333)
            continue
        out.append(s)
    return out


def _is_comment_only(s: str) -> bool:
    stripped = s.strip()
    while stripped:
        if stripped.startswith("--"):
            nl = stripped.find("\n")
            if nl == -1:
                return True
            stripped = stripped[nl + 1:].strip()
        elif stripped.startswith("/*"):
            end = stripped.find("*/")
            if end == -1:
                return True
            stripped = stripped[end + 2:].strip()
        else:
            return False
    return True


# --------------------------------------------------------------------------
# literal escaping for the non-prepared path (reference: connections.py:204-224)
# --------------------------------------------------------------------------

def escape_value(value: Any) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, _dt.datetime):
        # millisecond precision, like the reference (connections.py:217-219)
        return "TIMESTAMP '%s'" % value.strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
    if isinstance(value, _dt.date):
        return "DATE '%s'" % value.strftime("%Y-%m-%d")
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, (bytes, bytearray)):
        return "X'%s'" % value.hex()
    raise ValueError(f"Cannot escape bind value of type {type(value)!r}")


@dataclass
class AdapterResponse:
    """Reference: ExtricaAdapterResponse (connections.py:305-313)."""

    _message: str
    query: str = ""
    query_id: str | None = None
    rows_affected: int = -1

    def __str__(self) -> str:  # pragma: no cover
        return self._message


class ResultCursor:
    """Prefetched result buffer with DB-API-ish accessors
    (reference: ConnectionWrapper, connections.py:116-198)."""

    def __init__(self, df: DataFrame | None):
        self._df = df
        self._rows: list | None = None
        self._pos = 0

    @property
    def dataframe(self) -> DataFrame | None:
        return self._df

    def _fetch(self) -> list:
        if self._rows is None:
            self._rows = self._df.collect() if self._df is not None else []
        return self._rows

    @property
    def description(self) -> list[tuple]:
        if self._df is None:
            return []
        return [
            (f.name, f.dataType.typeName().upper(), None, None, None, None,
             f.nullable)
            for f in self._df.schema.fields
        ]

    def fetchall(self) -> list:
        return self._fetch()

    def fetchone(self):
        rows = self._fetch()
        if self._pos >= len(rows):
            return None
        row = rows[self._pos]
        self._pos += 1
        return row

    def fetchmany(self, size: int = 1) -> list:
        rows = self._fetch()
        chunk = rows[self._pos:self._pos + size]
        self._pos += len(chunk)
        return chunk

    @property
    def rowcount(self) -> int:
        return len(self._fetch())


def data_type_code_to_name(type_code: str) -> str:
    """A32 — 'decimal(28,6)' -> 'DECIMAL' (reference: connections.py:359-361)."""
    return type_code.split("(")[0].strip().upper()


class ExecutionManager:
    """Executes statements against a shared SparkSession.

    One instance per logical "connection"; thread-safe the way the reference
    is (a connection per dbt thread, reference: connections.py:344 +
    tests/units/test_adapter.py:83-84). Spark sessions are shared safely
    across threads; per-thread job groups give cancellation scoping.
    """

    def __init__(self, spark: SparkSession, prepared_statements_enabled: bool = True):
        self.spark = spark
        self.prepared_statements_enabled = prepared_statements_enabled
        self._lock = threading.Lock()
        self._query_counter = 0

    # -- core execute --------------------------------------------------------
    def execute(self, sql: str, bindings: Iterable[Any] | None = None,
                eager: bool = True) -> tuple[AdapterResponse, ResultCursor]:
        """Run ONE statement. Returns (response, cursor). ``eager`` collects
        immediately (reference behavior, connections.py:197) — metadata/DDL
        results are small; data-plane paths use DataFrames directly and never
        go through here."""
        with self._lock:
            self._query_counter += 1
            qid = f"q{self._query_counter}"
        try:
            if bindings is not None and self.prepared_statements_enabled:
                df = self.spark.sql(sql, args=list(bindings))
            elif bindings is not None:
                escaped = [escape_value(b) for b in bindings]
                df = self.spark.sql(sql.replace("?", "{}").format(*escaped))
            else:
                df = self.spark.sql(sql)
            cursor = ResultCursor(df)
            if eager:
                cursor.fetchall()
            rows = cursor.rowcount if eager else -1
            return (
                AdapterResponse(_message="OK", query=sql, query_id=qid,
                                rows_affected=rows),
                cursor,
            )
        except Exception as exc:  # noqa: BLE001
            raise map_exception(exc) from exc

    def add_query(self, sql: str, bindings: Iterable[Any] | None = None
                  ) -> tuple[AdapterResponse, ResultCursor]:
        """Split a possibly multi-statement script and run each statement
        (reference: connections.py:318-357). Bindings only apply when the
        script is a single statement, like the reference."""
        statements = split_statements(sql)
        if not statements:
            raise DatabaseError(f"No executable statements in: {sql!r}")
        if len(statements) > 1 and bindings is not None:
            raise RuntimeEngineError(
                "bindings not supported with multi-statement scripts"
            )
        resp_cursor = None
        for stmt in statements:
            resp_cursor = self.execute(stmt, bindings=bindings)
        assert resp_cursor is not None
        return resp_cursor

    # -- cancellation (reference: connections.py:135-137,315-316) ------------
    def run_in_job_group(self, group_id: str, fn, *args, **kwargs):
        self.spark.sparkContext.setJobGroup(group_id, "dbt_extrica_spark",
                                            interruptOnCancel=True)
        try:
            return fn(*args, **kwargs)
        finally:
            # PySpark has no clearJobGroup; the JVM context's one clears the
            # calling thread's group, description and interrupt flag
            self.spark.sparkContext._jsc.clearJobGroup()

    def cancel(self, group_id: str) -> None:
        self.spark.sparkContext.cancelJobGroup(group_id)
