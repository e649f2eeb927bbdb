"""Hypertable-style continuous rollup — time-bucketed aggregates maintained
incrementally (the TimescaleDB "continuous aggregate" shape, SURVEY brief's
"hypertable rollup" custom-operator example).

The rollup table is PARTITIONED BY the time bucket. A refresh recomputes
ONLY buckets at/after the current high-watermark minus a lateness window,
committing via dynamic partition overwrite: steady-state refresh cost is
proportional to recent data, not table history — the property that keeps a
rollup over a 100 TB hypertable cheap to maintain."""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from ..relation import Relation, RelationType
from .merge import dynamic_overwrite_insert

if TYPE_CHECKING:  # pragma: no cover
    from ..engine import Engine


def _rollup_select(source: str, ts_col: str, bucket: str,
                   dims: list[str], aggs: dict[str, str],
                   where: str | None = None) -> str:
    dim_csv = ", ".join(f"`{d}`" for d in dims)
    agg_csv = ", ".join(f"{expr} AS `{out}`" for out, expr in aggs.items())
    parts = [f"CAST(date_trunc('{bucket}', `{ts_col}`) AS DATE) AS bucket"]
    if dims:
        parts.append(dim_csv)
    parts.append(agg_csv)
    group = "1" + ("".join(f", {i+2}" for i in range(len(dims))))
    where_clause = f" WHERE {where}" if where else ""
    return (
        f"SELECT {', '.join(parts)} FROM {source}{where_clause}"
        f" GROUP BY {group}"
    )


_REAGG = {"count": "SUM", "sum": "SUM", "min": "MIN", "max": "MAX"}

_BUCKET_SHIFT = {
    "day": lambda wm, n: F.date_sub(wm, n),
    "week": lambda wm, n: F.date_sub(wm, 7 * n),
    "month": lambda wm, n: F.add_months(wm, -n),
    "year": lambda wm, n: F.add_months(wm, -12 * n),
}


def _refresh_level(engine: "Engine", target: Relation, source: str,
                   ts_col: str, bucket: str, dims: list[str],
                   aggs: dict[str, str], lateness_buckets: int,
                   raw: bool) -> None:
    """Build or refresh one rollup level: the first call builds the
    bucket-partitioned table; later calls recompute only buckets >=
    (max existing bucket - ``lateness_buckets`` whole buckets), replacing
    those partitions -- late-arriving rows within the lateness window
    fold in because affected buckets are recomputed from ``source``, not
    patched."""
    select = _rollup_select(source, ts_col, bucket, dims, aggs)
    if engine.catalog.get_relation(target) is None:
        engine.spark.sql(
            f"CREATE TABLE {target.render()} USING PARQUET"
            f" PARTITIONED BY (bucket) AS {select}"
        )
        return
    wm_row = engine.spark.sql(
        f"SELECT MAX(bucket) AS wm FROM {target.render()}"
    ).collect()[0]
    if wm_row.wm is None:
        refreshed = engine.spark.sql(select)
    else:
        bound = _BUCKET_SHIFT[bucket](F.lit(wm_row.wm), lateness_buckets)
        bound_str = engine.spark.range(1).select(
            bound.cast("string")).collect()[0][0]
        # the floor is typed to the source's time column: TIMESTAMP on a
        # raw source (the predicate pushes to the source scan, where a
        # filter on the computed bucket would only prune post-scan;
        # equivalent because date_trunc floors), DATE on a finer rollup
        # (prunes its bucket PARTITIONS — the point of the cascade)
        floor = (f"`{ts_col}` >= TIMESTAMP '{bound_str} 00:00:00'" if raw
                 else f"`{ts_col}` >= DATE '{bound_str}'")
        refreshed = engine.spark.sql(_rollup_select(
            source, ts_col, bucket, dims, aggs, where=floor))
    tbl_cols = engine.spark.table(target.render_unquoted()).columns
    dynamic_overwrite_insert(engine.spark, target.render_unquoted(),
                             refreshed.select(*tbl_cols))


def _check_buckets(buckets) -> None:
    for b in buckets:
        if b not in _BUCKET_SHIFT:
            raise ValueError(f"unsupported rollup bucket: {b!r}; one of "
                             f"{tuple(_BUCKET_SHIFT)}")


def rollup_cascade(
    engine: "Engine",
    base_name: str,
    source: str,
    ts_col: str,
    buckets: tuple[str, ...] = ("day", "month"),
    dims: list[str] | None = None,
    aggs: dict[str, tuple[str, str]] | None = None,
    lateness_buckets: int = 1,
) -> dict[str, Relation]:
    """Multi-granularity continuous aggregates (the TimescaleDB cascade
    shape): level 0 rolls the raw hypertable into the finest bucket; every
    coarser level re-aggregates THE PREVIOUS ROLLUP, never the raw table.

    Why this is the 100 TB shape: a month-level refresh reads a handful of
    day-partition files (the refresh floor prunes on the finer rollup's
    bucket partition column), not a month of raw events — refresh cost per
    level is proportional to that level's recent-bucket row count, which
    shrinks by orders of magnitude per level.

    ``aggs`` maps output column -> (kind, expr) with kind in
    count | sum | min | max — the decomposable aggregates, re-aggregated
    as SUM/SUM/MIN/MAX of the finer column. Non-decomposable aggregates
    (avg, distinct) must be carried as their decomposition (sum+count;
    sketches) by the caller. Keep SUMs in DECIMAL through the cascade if
    exact cross-level equality matters — double addition is not
    associative across regrouping.

    Each level is a bucket-partitioned table ``{base_name}_{bucket}``
    refreshed like :func:`continuous_rollup`: first call full-builds,
    later calls recompute only buckets >= (level watermark -
    ``lateness_buckets``), committed via dynamic partition overwrite.
    Buckets must be date-representable (day/week/month/year) and ordered
    fine -> coarse. Returns {level_name: Relation}."""
    dims = dims or []
    aggs = aggs or {"n": ("count", "*")}
    _check_buckets(buckets)

    def level_exprs(first: bool) -> dict[str, str]:
        out = {}
        for name, (kind, expr) in aggs.items():
            if kind not in _REAGG:
                raise ValueError(f"non-decomposable aggregate: {kind!r}")
            if first:
                out[name] = (
                    "CAST(COUNT(*) AS BIGINT)" if kind == "count"
                    else f"{kind.upper()}({expr})"
                )
            else:
                fn = _REAGG[kind]
                cast = " AS BIGINT" if kind == "count" else None
                inner = f"{fn}(`{name}`)"
                out[name] = f"CAST({inner}{cast})" if cast else inner
        return out

    rels: dict[str, Relation] = {}
    src, src_ts, first = source, ts_col, True
    for b in buckets:
        name = f"{base_name}_{b}"
        target = engine.relation(name, RelationType.Table)
        _refresh_level(engine, target, src, src_ts, b, dims,
                       level_exprs(first), lateness_buckets, raw=first)
        rels[name] = target
        src, src_ts, first = target.render(), "bucket", False
    return rels


def continuous_rollup(
    engine: "Engine",
    name: str,
    source: str,
    ts_col: str,
    bucket: str = "day",
    dims: list[str] | None = None,
    aggs: dict[str, str] | None = None,
    lateness_buckets: int = 1,
) -> Relation:
    """Create or incrementally refresh the rollup: the single-level case
    of :func:`rollup_cascade`, with free-form aggregate expressions (one
    level recomputes from the source, so nothing has to re-aggregate).

    - first call: full build, PARTITIONED BY bucket
    - later calls: recompute only buckets >= (max existing bucket -
      ``lateness_buckets`` whole buckets of ``bucket``), replacing those
      partitions.
    """
    _check_buckets((bucket,))
    target = engine.relation(name, RelationType.Table)
    _refresh_level(engine, target, source, ts_col, bucket, dims or [],
                   aggs or {"n": "CAST(COUNT(*) AS BIGINT)"},
                   lateness_buckets, raw=True)
    return target
