"""Spans around the calls into the package's layers, recorded from the
benchmark's side.

The tracer wraps public functions and methods of the package in place (the
package itself is not edited) and undoes it on ``close``. Spans are kept in
memory and written out once, at the end of a run.

- A span's parent is the innermost open span on the same thread; a span on
  a thread with none open (a runner worker) takes the innermost open span of
  the thread that made the tracer.
- A *lazy* span wraps a function that only builds a DataFrame. Its result is
  forced later, so the span is stretched: the next span its caller opens on
  the same thread (the write that forces it, e.g. ``overwrite_table_atomic``)
  becomes its child and the lazy span ends with it; with no such span, it
  ends with its parent.
- While a span is open its id is the thread's Spark local property
  ``perfbench.span``, so every Spark job lands in the event log tagged with
  the innermost span that started it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import stats

SPAN_PROPERTY = "perfbench.span"


class Span:
    __slots__ = ("id", "name", "parent", "thread", "start", "end", "lazy",
                 "waiting", "forces")

    def __init__(self, sid: int, name: str, parent: "Span | None",
                 lazy: bool):
        self.id, self.name, self.parent, self.lazy = sid, name, parent, lazy
        self.thread = threading.get_ident()
        self.start = time.perf_counter()
        self.end: float | None = None
        self.waiting: dict[int, Span] = {}   # thread -> lazy child to force
        self.forces: Span | None = None      # the lazy span this one forces


class Tracer:
    """Record spans when ``enabled``; otherwise ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.calls: dict[str, int] = defaultdict(int)
        self.bookkeeping_s = 0.0
        self.sc = None                     # SparkContext, once there is one
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = defaultdict(list)
        self._root = threading.get_ident()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _set_property(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY,
                                     None if span is None else str(span.id))

    def _open(self, name: str, lazy: bool) -> Span:
        t0 = time.perf_counter()
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks[tid]
            root = self._stacks[self._root]
            parent = stack[-1] if stack else (root[-1] if root else None)
            forced = parent.waiting.pop(tid, None) if parent else None
            span = Span(len(self.spans), name, forced or parent, lazy)
            if forced is not None:
                span.forces = forced
            self.spans.append(span)
            stack.append(span)
        self._set_property(span)
        with self._lock:
            self.bookkeeping_s += time.perf_counter() - t0
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        t0 = span.end
        with self._lock:
            stack = self._stacks[span.thread]
            stack.pop()
            for lazy in span.waiting.values():      # never forced by a sibling
                lazy.end = span.end
            span.waiting.clear()
            if span.forces is not None:
                span.forces.end = span.end
            if span.lazy and span.parent is not None:
                span.parent.waiting[span.thread] = span
            top = stack[-1] if stack else None
        self._set_property(top)
        with self._lock:
            self.bookkeeping_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, lazy: bool = False):
        if not self.enabled:
            yield
            return
        s = self._open(name, lazy)
        try:
            yield
        finally:
            self._close(s)

    # -- patching --------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = owner.__dict__[attr]
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def wrap(self, owner, attr: str, name=None, lazy: bool = False) -> None:
        """Time ``owner.attr`` (a module function or a class's method) as a
        span named ``name``, or ``name(args)`` when ``name`` is callable."""
        if not self.enabled:
            return
        tracer = self
        label = name or attr

        def make(fn):
            @functools.wraps(fn)
            def timed(*a, **k):
                with tracer.span(label(a) if callable(label) else label, lazy):
                    return fn(*a, **k)
            return timed
        self._patch(owner, attr, make)

    def count(self, cls, key: str) -> None:
        """Count every call to the public methods of ``cls`` as ``key``."""
        if not self.enabled:
            return
        tracer = self

        def make(fn):
            @functools.wraps(fn)
            def counted(*a, **k):
                with tracer._lock:
                    tracer.calls[key] += 1
                return fn(*a, **k)
            return counted
        for attr, val in list(vars(cls).items()):
            if callable(val) and not attr.startswith("_"):
                self._patch(cls, attr, make)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- results ---------------------------------------------------------
    def by_name(self) -> dict[str, dict]:
        """name -> calls, total_s, self_s (over closed spans)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None and s.end is not None:
                children[s.parent.id].append((s.start, s.end))
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.end is None:
                continue
            agg = out.setdefault(s.name, {"calls": 0, "total_s": 0.0,
                                          "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += s.end - s.start
            agg["self_s"] += stats.self_time(s.start, s.end,
                                             children[s.id])
        return out


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_write_bytes", "spill_bytes", "gc_s")


def spark_by_span(log_dir: str) -> dict[str, dict[str, float]]:
    """Span id (or "none") -> Spark counters, from every event log under
    ``log_dir``."""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(SPARK_KEYS, 0))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_span: dict[int, str] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY,
                                                           "none")
                    out[sid]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerStageCompleted":
                    st = ev["Stage Info"]["Stage ID"]
                    out[stage_span.get(st, "none")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    agg = out[stage_span.get(ev.get("Stage ID"), "none")]
                    agg["tasks"] += 1
                    agg["executor_run_s"] += m.get("Executor Run Time",
                                                   0) / 1e3
                    agg["executor_cpu_s"] += m.get("Executor CPU Time",
                                                   0) / 1e9
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    agg["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
    return out


# --------------------------------------------------------------------------
# files written
# --------------------------------------------------------------------------

def scan_files(root: str) -> dict[str, tuple[int, int]]:
    """Relative path -> (size, mtime_ns) for the data files under root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> list[tuple[str, int]]:
    """Files new or rewritten between two scans, with their sizes."""
    return [(p, v[0]) for p, v in after.items() if before.get(p) != v]
