"""The benchmark's own arithmetic: the tail percentile, interval union and
self time, error rate, and stored bytes per live byte."""

from __future__ import annotations

import math
import os


def tail_percentile(xs: list[float],
                    beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as (percentile, value); None when there are too few samples.

    With n sorted samples, the value at rank r (1-based) has n - r samples
    above it, so the highest usable rank is n - beyond and the percentile is
    100 * r / n."""
    s = sorted(xs)
    r = len(s) - beyond
    if r < 1:
        return None
    return 100.0 * r / len(s), s[r - 1]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover; children
    may overlap each other and may stick out of the span."""
    clipped = [(max(s, start), min(e, end)) for s, e in children
               if e > start and s < end]
    return (end - start) - union_length(clipped)


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("error_rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (Spark's ``.crc`` and
    ``_SUCCESS`` markers included: they are on disk too)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def stored_per_live(stored_dirs: list[str],
                    compacted_dirs: list[str]) -> float:
    """On-disk bytes of the target tables over the bytes of the same final
    rows written once, compacted. NaN when the compacted copy is empty."""
    live = sum(dir_bytes(d) for d in compacted_dirs)
    if live == 0:
        return math.nan
    return sum(dir_bytes(d) for d in stored_dirs) / live
