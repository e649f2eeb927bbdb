"""Turn one run's samples into the printed lines, the detail file and the
final JSON line."""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from collections import defaultdict

import spans
import stats
import workloads

KINDS = ("table", "view", "incremental", "materialized_view", "seed",
         "snapshot")
STORAGE_KINDS = ("table", "incremental", "materialized_view", "seed",
                 "snapshot", "cdc", "corpus")
SPANS = (
    "session.get_spark", "engine.register_sources",
    "plans.runner.build_project", "plans.model.topo_order",
    "engine.compile_sql", *(f"engine.materialize.{k}" for k in KINDS),
    "engine.overwrite_table_atomic", "engine.generate_docs",
    "operators.merge.merge_upsert", "operators.merge.delete_insert",
    "operators.merge.partition_scoped_overwrite", "operators.merge.apply_cdc",
    "operators.snapshot.snapshot",
    "catalog.get_relation", "catalog.rename_relation", "catalog.drop_relation",
    "catalog.get_columns_in_relation", "catalog.get_catalog",
    "connections.execute", "testing.run_checks",
    "functions.dialect.translate_trino_sql",
    *workloads.STEPS,
)

END_TO_END = {"setup_s": "s", "first_op_s": "s", "op_p50_s": "s",
              "peak_rss_mb": "MB"}

# what one operation is, and the names first_op_s / op_p50_s go by on it
OP_NAMES = {
    "project_build": ("build", "builds", "first_build_s", "build_s"),
    "corpus_pipeline": ("pass", "passes", "first_pass_s", "corpus_s"),
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes_per_live" in name:
        return "ratio"
    if "bytes" in name:
        return "B"
    if name.endswith("efficiency"):
        return "ratio"
    return "count"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    names = [n for s in SPANS for n in (f"{s}_s", f"{s}.self_s",
                                        f"{s}.calls")]
    names += ["plans.runner.parallel_efficiency", "catalog.calls"]
    names += [f"spark.{k}" for k in spans.SPARK_KEYS]
    names += ["storage.files_written", "storage.bytes_written",
              "storage.partitions_written"]
    names += [f"storage.bytes_written.{k}" for k in STORAGE_KINDS]
    names += ["storage.stored_bytes_per_live_byte", "spark.cached_bytes",
              "catalog.leftover_relations", "trace.bookkeeping_s",
              "trace.op_p50_s"]
    return {n: _unit(n) for n in names}


def _parallel_efficiency(tracer) -> float:
    """Sum of node busy time over (build wall x threads), across builds."""
    busy = defaultdict(float)
    for s in tracer.spans:
        p = s.parent
        if (p is not None and p.name == "plans.runner.build_project"
                and s.name.startswith("engine.materialize.")
                and s.end is not None):
            busy[p.id] += s.end - s.start
    denom = sum((s.end - s.start) * workloads.NPROC for s in tracer.spans
                if s.name == "plans.runner.build_project" and s.end)
    return sum(busy.values()) / denom if denom else 0.0


def layer_metrics(bench, event_log: str) -> tuple[dict, dict]:
    """The per-layer metrics, and per-span detail for the detail file."""
    tracer = bench.tracer
    agg = tracer.by_name()
    m: dict[str, float] = {}
    for s in SPANS:
        a = agg.get(s, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        m[f"{s}_s"], m[f"{s}.self_s"], m[f"{s}.calls"] = (
            a["total_s"], a["self_s"], a["calls"])
    m["plans.runner.parallel_efficiency"] = _parallel_efficiency(tracer)
    m["catalog.calls"] = tracer.calls["catalog.calls"]
    by_span = spans.spark_by_span(event_log)
    for k in spans.SPARK_KEYS:
        m[f"spark.{k}"] = sum(v[k] for v in by_span.values())
    st = bench.storage
    m["storage.files_written"] = sum(v["files"] for v in st.values())
    m["storage.bytes_written"] = sum(v["bytes"] for v in st.values())
    m["storage.partitions_written"] = sum(len(v["partitions"])
                                          for v in st.values())
    for k in STORAGE_KINDS:
        m[f"storage.bytes_written.{k}"] = st[k]["bytes"] if k in st else 0
    m["storage.stored_bytes_per_live_byte"] = bench.stored_per_live
    m["spark.cached_bytes"] = max(bench.cached_bytes, default=0)
    m["catalog.leftover_relations"] = max(bench.leftovers, default=0)
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s
    m["trace.op_p50_s"] = statistics.median(bench.op_s[1:])

    # per span name: the Spark counters of the jobs its spans started
    spark_by_name: dict[str, dict] = defaultdict(
        lambda: dict.fromkeys(spans.SPARK_KEYS, 0))
    names = {str(s.id): s.name for s in tracer.spans}
    for sid, v in by_span.items():
        d = spark_by_name[names.get(sid, "(no span)")]
        for k in spans.SPARK_KEYS:
            d[k] += v[k]
    detail = {
        "by_name": {n: {**a, "spark": spark_by_name.get(n)}
                    for n, a in sorted(agg.items())},
        "storage": {k: {**v, "partitions": len(v["partitions"])}
                    for k, v in st.items()},
        "cached_bytes_after_each_op": bench.cached_bytes,
        "leftover_relations_after_each_op": bench.leftovers,
        "spans": [{"id": s.id, "name": s.name,
                   "parent": s.parent.id if s.parent else None,
                   "thread": s.thread, "start": s.start, "end": s.end,
                   "spark": by_span.get(str(s.id))} for s in tracer.spans],
    }
    return m, detail


def _num(v: float) -> float:
    # JSON has no NaN; a ratio with nothing to divide by reads as 0
    return 0.0 if isinstance(v, float) and math.isnan(v) else v


def summarize(args, bench, event_log: str | None, loads: tuple,
              out_dir: str) -> dict:
    op, ops, first_name, p50_name = OP_NAMES[args.workload]
    warm = bench.op_s[1:]
    e2e = {"setup_s": statistics.median(bench.setup_s),
           "first_op_s": bench.op_s[0],
           "op_p50_s": statistics.median(warm),
           "peak_rss_mb": bench.peak_kb / 1024}
    lines = [
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"nproc={workloads.NPROC} seconds={args.seconds:g}",
        "loadavg at start %.2f %.2f %.2f, at end %.2f %.2f %.2f"
        % (*loads[0], *loads[1]),
        f"sizes {workloads.SIZES[args.workload]}  inputs {bench.facts}",
        f"setup_s = {e2e['setup_s']:.4f} s  (median of n={len(bench.setup_s)}"
        f" set-ups; first includes the JVM launch: "
        f"{', '.join(f'{x:.3f}' for x in bench.setup_s)})",
        f"first_op_s = {first_name} = {e2e['first_op_s']:.4f} s  "
        f"(the first {op} in the process)",
        f"op_p50_s = {p50_name} = {e2e['op_p50_s']:.4f} s  (median of "
        f"n={len(warm)} warm {ops})",
    ]
    tail = stats.tail_percentile(warm)
    lines.append(f"tail: p{tail[0]:.0f} = {tail[1]:.4f} s over n={len(warm)}"
                 if tail else
                 f"tail: no percentile has 10 samples beyond it "
                 f"(n={len(warm)} warm {op} samples)")
    lines.append(f"error_rate = {bench.failed}/{bench.attempted} = "
                 f"{stats.error_rate(bench.attempted, bench.failed):.4f}  "
                 f"(one operation = one node, the changelog step, the docs or "
                 f"one corpus step)")
    lines.append(f"peak_rss_mb = {e2e['peak_rss_mb']:.1f} MB  (VmHWM of the "
                 f"driver process + its JVM, highest over set-ups and "
                 f"operations)")
    lines += [f"FAILED {f}" for f in bench.failures]

    detail = {"args": vars(args), "loadavg": loads, "facts": bench.facts,
              "setup_s": bench.setup_s, "op_s": bench.op_s,
              "failures": bench.failures, "end_to_end": e2e}
    if args.trace:
        metrics, layer_detail = layer_metrics(bench, event_log)
        detail.update(per_layer=metrics, **layer_detail)
        untraced = _last_untraced(out_dir, args.workload)
        if untraced:
            lines.append(
                f"trace overhead: {op} p50 {metrics['trace.op_p50_s']:.4f} s "
                f"traced vs {untraced['op_p50_s']:.4f} s untraced (seed "
                f"{untraced['seed']}): "
                f"{metrics['trace.op_p50_s'] / untraced['op_p50_s'] - 1:+.1%};"
                f" tracer bookkeeping {metrics['trace.bookkeeping_s']:.3f} s")
        else:
            lines.append("trace overhead: no untraced run of this workload "
                         "recorded under .perfbench/ to compare with")
        lines.append(f"{'span':48s} {'calls':>6s} {'total_s':>9s} "
                     f"{'self_s':>9s} {'jobs':>6s}")
        for name, a in detail["by_name"].items():
            jobs = (a["spark"] or {}).get("jobs", 0)
            lines.append(f"{name:48s} {a['calls']:6d} {a['total_s']:9.3f} "
                         f"{a['self_s']:9.3f} {jobs:6d}")
        units = per_layer_units()
    else:
        metrics, units = e2e, END_TO_END

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1, default=str)
    with open(os.path.join(out_dir, "results.jsonl"), "a",
              encoding="utf-8") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "time": time.time(),
                             "op_p50_s": e2e["op_p50_s"]}) + "\n")
    lines.append(f"detail file: {path}")
    print("\n".join(lines))
    return {
        # every operation's output was checked; wrong outputs are the
        # `failed` ones, printed above as FAILED lines
        "correct": bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": _num(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }


def _last_untraced(out_dir: str, workload: str) -> dict | None:
    path = os.path.join(out_dir, "results.jsonl")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    rows = [r for r in rows if r["workload"] == workload and not r["trace"]]
    return rows[-1] if rows else None
