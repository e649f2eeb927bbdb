"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload project_build --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``). Lines
before it say what was measured, with sample counts, and print every failed
output check. Inputs, Spark's scratch space and the warehouse live under
``.perfbench/`` in the current directory; a detail file per run stays there.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# a run that hangs is stopped before the 180 s a run may take
DEADLINE_S = 170
DRIVER_MEMORY = "1g"


def parse(argv, workload_names):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=workload_names)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def configure_env(root: str, work: str, event_log: str | None) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``, and let the workers import the package from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")}
    if event_log:
        os.makedirs(event_log)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={tmp}",
             "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{task}/children", encoding="ascii") as fh:
            out += [int(c) for c in fh.read().split()]
    return out


def stop_jvm(proc) -> None:
    """Stop the JVM ``proc`` and its Python workers, and wait until they are
    gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    workers = _children(proc.pid) if proc and proc.poll() is None else []
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()       # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    t_end = time.monotonic() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < t_end:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def _timeout(_sig, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dbt_extrica_spark",
                                       "__init__.py")):
        print("perfbench: no dbt_extrica_spark/ in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]

    import report
    import workloads
    from spans import Tracer

    args = parse(argv, sorted(workloads.WORKLOADS))
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    out_dir = os.path.join(root, ".perfbench")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(out_dir, f"work-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    configure_env(root, work, event_log)

    load_start = os.getloadavg()
    tracer = Tracer(enabled=bool(args.trace))
    if args.trace:
        workloads.instrument(tracer)
    bench = workloads.Bench(work, args.seed, args.seconds, tracer)
    try:
        workloads.WORKLOADS[args.workload](bench)
    finally:
        tracer.close()
        if bench.spark is not None:
            bench.spark.stop()
        stop_jvm(workloads.jvm_process())
        signal.alarm(0)
    result = report.summarize(args, bench, event_log,
                              (load_start, os.getloadavg()), out_dir)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
