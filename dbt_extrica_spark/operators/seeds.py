"""Seed (CSV) loading — SURVEY §2 A3/A4, §3.2.

Reference flow: dbt-core parses CSV with agate -> ``create_csv_table`` builds
DDL from inferred types (macros/adapters.sql:52-79, rules impl.py:52-66) ->
``load_csv_rows`` emits batched INSERTs with typed literals
(seeds/helpers.sql:41-86). On Spark the batching/literal dance collapses into
one ``createDataFrame(rows, schema).saveAsTable`` — but the *type-inference
rules themselves* are preserved to produce identical schemas:

- text -> VARCHAR (StringType)
- number -> DOUBLE if any value has decimals else INTEGER (impl.py:56-58)
- ISO datetime -> TIMESTAMP, ISO date -> DATE, booleans -> BOOLEAN
- agate's tester order (Boolean before Number: a column of only 0/1/true/
  false parses as boolean)
- per-column ``column_types`` overrides win (macros/adapters.sql:59,66-67)
"""

from __future__ import annotations

import csv
import datetime as _dt
import io
from typing import TYPE_CHECKING

from ..column import Column
from ..relation import Relation, RelationType

if TYPE_CHECKING:  # pragma: no cover
    from ..engine import Engine

_BOOL_TRUE = {"true", "t", "yes", "y", "1"}
_BOOL_FALSE = {"false", "f", "no", "n", "0"}
_NULLS = {"", "null", "none", "na", "n/a"}


def _is_null(v: str) -> bool:
    return v.strip().lower() in _NULLS


def _try_bool(v: str):
    s = v.strip().lower()
    if s in _BOOL_TRUE:
        return True
    if s in _BOOL_FALSE:
        return False
    return None


def _try_number(v: str):
    s = v.strip().replace(",", "")
    try:
        i = int(s)
        return i, False
    except ValueError:
        pass
    try:
        f = float(s)
        return f, True
    except ValueError:
        return None


def _try_date(v: str):
    try:
        return _dt.date.fromisoformat(v.strip())
    except ValueError:
        return None


def _try_datetime(v: str):
    s = v.strip()
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M",
                "%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S"):
        try:
            return _dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    return None


def infer_column(values: list[str]) -> str:
    """Infer one column's type over its non-null raw strings, in agate tester
    order (Boolean, Number, Date, DateTime, Text)."""
    non_null = [v for v in values if not _is_null(v)]
    if not non_null:
        return "varchar"
    if all(_try_bool(v) is not None for v in non_null):
        return "boolean"
    nums = [_try_number(v) for v in non_null]
    if all(n is not None for n in nums):
        # DOUBLE iff any value carries decimals (reference: impl.py:56-58)
        return "double" if any(is_f for _v, is_f in nums) else "integer"
    if all(_try_date(v) is not None for v in non_null):
        return "date"
    if all(_try_datetime(v) is not None for v in non_null):
        return "timestamp"
    return "varchar"


def _coerce(v: str, dtype: str):
    if _is_null(v):
        return None
    base = dtype.lower().split("(")[0].strip()
    if base == "boolean":
        return _try_bool(v)
    if base in ("integer", "int", "bigint", "smallint", "tinyint"):
        return int(v.strip().replace(",", ""))
    if base in ("double", "real", "float", "double precision"):
        return float(v.strip().replace(",", ""))
    if base in ("decimal", "numeric"):
        import decimal

        return decimal.Decimal(v.strip())
    if base == "date":
        return _try_date(v)
    if base == "timestamp":
        return _try_datetime(v) or (
            _dt.datetime.combine(_try_date(v), _dt.time())
            if _try_date(v) else None
        )
    return v


def parse_csv(text: str, delimiter: str = ",") -> tuple[list[str], list[list[str]]]:
    reader = csv.reader(io.StringIO(text), delimiter=delimiter)
    rows = list(reader)
    return rows[0], rows[1:]


def seed(
    engine: "Engine",
    name: str,
    csv_text: str,
    column_types: dict[str, str] | None = None,
    properties: dict | None = None,
    delimiter: str = ",",
) -> Relation:
    """A3+A4 — reset (drop + recreate, macros/adapters.sql:69-79) and load in
    one shot. ``column_types`` overrides inferred types by column name."""
    from pyspark.sql import types as T

    header, raw_rows = parse_csv(csv_text, delimiter)
    overrides = {k.lower(): v for k, v in (column_types or {}).items()}

    dtypes: list[str] = []
    for i, col in enumerate(header):
        if col.lower() in overrides:
            dtypes.append(overrides[col.lower()])
        else:
            dtypes.append(infer_column(
                [r[i] if i < len(r) else "" for r in raw_rows]
            ))

    fields = [
        T.StructField(col, Column.from_description(col, dt).spark_type(), True)
        for col, dt in zip(header, dtypes)
    ]
    schema = T.StructType(fields)
    data = [
        tuple(
            _coerce(r[i] if i < len(r) else "", dtypes[i])
            for i in range(len(header))
        )
        for r in raw_rows
    ]
    df = engine.spark.createDataFrame(data, schema)

    target = engine.relation(name, RelationType.Table)
    existing = engine.catalog.get_relation(target)
    if existing is not None:
        engine.catalog.drop_relation(existing)
    df.write.format("parquet").saveAsTable(target.render_unquoted())
    if properties:
        # the reference emits seed properties in the CTAS WITH(...) clause
        # (TBLPROPERTIES); DataFrameWriter options would be silently ignored
        # by the parquet writer, so set them as real table properties.
        from ..catalog import properties_clause

        clause = properties_clause(properties).replace(" TBLPROPERTIES ", "", 1)
        engine.spark.sql(
            f"ALTER TABLE {target.render()} SET TBLPROPERTIES {clause}"
        )
    return target
