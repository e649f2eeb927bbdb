"""DAG-ordered, thread-parallel model runner.

Reference analog: dbt-core runs N models concurrently on one connection per
thread (reference: README.md:77 ``threads``; connections.py:344 thread-keyed
registry). Spark sessions are thread-safe; each worker thread tags its jobs
with a scheduler pool + job group so independent models share the cluster
fairly and can be cancelled individually (reference: connections.py:315-316).
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from typing import TYPE_CHECKING, Callable

from ..relation import Relation
from ..session import local_frame

if TYPE_CHECKING:  # pragma: no cover
    from ..engine import Engine
    from .model import Project


def _in_model_group(engine: "Engine", name: str, fn: Callable[[], object]):
    """Run ``fn`` with this thread's jobs in model ``name``'s scheduler pool
    and job group, both cleared afterwards."""
    sc = engine.spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", f"model_{name}")
    sc.setJobGroup(f"model_{name}", f"dbt_extrica_spark model {name}",
                   interruptOnCancel=True)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
        sc._jsc.clearJobGroup()


def _schedule(project: "Project", levels: list[list[str]], chosen: set[str],
              step: Callable[[str], bool], threads: int) -> dict[str, list]:
    """The dependency-driven scheduler behind run_project and build_project.

    ``step(name)`` runs once per chosen model of ``levels`` (the
    project's ``topo_order()``), as soon as every chosen
    parent has finished with ``True``; with ``threads > 1`` independent
    branches run concurrently on a pool of that size, with no barrier
    between DAG levels. A model with a parent whose step returned ``False``
    (or that was itself skipped) does not run. Returns ``{name: sorted
    failed parents}`` for those skipped models. An exception from ``step``
    stops further scheduling and propagates once the running steps finish;
    the pool is shut down on every path."""
    order = [n for level in levels for n in level if n in chosen]
    deps = {n: project.model(n).refs() & chosen for n in order}
    bad: set[str] = set()
    skipped: dict[str, list] = {}

    def skip_if_gated(name: str) -> bool:
        if deps[name] & bad:
            skipped[name] = sorted(deps[name] & bad)
            bad.add(name)
            return True
        return False

    if threads <= 1:
        for name in order:
            if not skip_if_gated(name) and not step(name):
                bad.add(name)
        return skipped

    done: set[str] = set()
    running: dict = {}
    pool = ThreadPoolExecutor(max_workers=threads)
    try:
        while order or running:
            # ``order`` is topological, so one pass also settles the
            # children of a model skipped earlier in the same pass
            for name in list(order):
                if deps[name] <= done:
                    order.remove(name)
                    if skip_if_gated(name):
                        done.add(name)
                    else:
                        running[pool.submit(step, name)] = name
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                name = running.pop(fut)
                if not fut.result():
                    bad.add(name)
                done.add(name)
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    return skipped


def run_project(engine: "Engine", project: "Project", threads: int = 4,
                full_refresh: bool = False,
                select: list[str] | str | None = None,
                exclude: list[str] | str | None = None
                ) -> dict[str, Relation]:
    """Execute every selected model in dependency order: a model starts as
    soon as its parents are built, up to ``threads`` at a time.
    ``select``/``exclude`` take dbt node-selection specs (``name``,
    ``+name``, ``name+`` — Project.select_nodes); an unselected upstream
    is NOT rebuilt — refs resolve to its existing relation, exactly like
    ``dbt run --select``. The first model that raises stops the run."""
    chosen = project.select_nodes(select, exclude)
    results: dict[str, Relation] = {}

    def step(name: str) -> bool:
        results[name] = _in_model_group(engine, name, lambda: (
            engine.materialize(project.model(name),
                               full_refresh=full_refresh)))
        return True

    _schedule(project, project.topo_order(), chosen, step, threads)
    return results


def retry_selection(engine: "Engine", project: "Project",
                    report) -> list[str]:
    """``dbt retry`` analog: from a prior build_project report, the
    node-selection specs that rerun every failed-or-skipped model — plus
    each model whose attached test errored (the conservative superset:
    rebuilding the model reruns its tests) — and all their descendants."""
    rows = report.collect()
    failed = {r.name for r in rows
              if r.node_type == "model" and r.status in ("error", "skip")}
    bad_test_tables = set()
    for r in rows:
        if r.node_type == "test" and r.status == "error" and ":" in r.name:
            bad_test_tables.add(r.name.split(":", 1)[1].rsplit(".", 1)[0])
    for m in project.models:
        if engine.relation(m.name).render_unquoted() in bad_test_tables:
            failed.add(m.name)
    return [f"{n}+" for n in sorted(failed)]


def build_project(engine: "Engine", project: "Project",
                  seeds: list[dict] | None = None,
                  snapshots: list[dict] | None = None,
                  threads: int = 4,
                  full_refresh: bool = False,
                  select: list[str] | str | None = None,
                  exclude: list[str] | str | None = None,
                  retry_from=None):
    """``dbt build``-style orchestrator: seeds, then models in DAG order
    with each model's attached tests run immediately after it, then
    snapshots — one invocation, one report.

    dbt-build semantics reproduced (dbt-core docs; the reference inherits
    the command untouched):

    - a model's tests (``model.config["tests"]``: run_checks specs without
      the ``table`` key) run right after the model materializes, not in a
      separate phase;
    - a test at severity error FAILS the node: every transitive downstream
      model is SKIPPED, as is any snapshot depending on it;
    - seeds run first (models may ``{ref:...}`` them), snapshots last
      (their ``source_sql`` may ``{ref:...}`` models; refs are resolved
      and count as dependencies, plus an explicit ``depends_on`` list);
    - ``select``/``exclude`` (dbt node-selection specs, models only)
      restrict which models build; unselected models neither run nor
      appear in the report, and a snapshot depending on an unselected but
      previously-built model still runs against its existing relation;
    - ``retry_from`` (a prior build_project report) is the ``dbt retry``
      analog: it replaces ``select`` with retry_selection(report) — only
      failed/skipped models (and models whose tests errored) plus their
      descendants rerun.

    Returns a report DataFrame (node_type, name, status, detail): statuses
    ``success`` / ``error`` / ``skip`` for build nodes, ``pass`` / ``warn``
    / ``error`` for tests. Models are scheduled by dependency, not by DAG
    level: a model starts once every selected parent has built and passed
    its error-severity tests, and its own tests run on the same worker
    right after it. The report is still in a fixed order: DAG level, then
    name, each model followed by its tests (a level's skipped models
    first). It is driver-local, so collecting it launches no Spark job.
    """
    from ..operators.seeds import seed as run_seed
    from ..operators.snapshot import snapshot as run_snapshot
    from ..testing import run_checks
    from .model import _REF_RE, _SRC_RE

    rows: list[tuple] = []
    failed: set[str] = set()  # nodes whose build or error-severity test failed
    if retry_from is not None:
        select = retry_selection(engine, project, retry_from) or []
    chosen = project.select_nodes(select, exclude)
    model_names = {m.name for m in project.models}

    for s in seeds or []:
        try:
            run_seed(engine, s["name"], s["csv_text"],
                     s.get("column_types"), s.get("properties"))
            rows.append(("seed", s["name"], "success", None))
        except Exception as exc:  # report, don't abort the build
            rows.append(("seed", s["name"], "error", str(exc)[:500]))
            failed.add(s["name"])

    built: dict[str, list[tuple]] = {}  # model -> its row, then its tests'

    def build_and_test(name: str) -> list[tuple]:
        try:
            engine.materialize(project.model(name),
                               full_refresh=full_refresh)
        except Exception as exc:
            return [("model", name, "error", str(exc)[:500])]
        out = [("model", name, "success", None)]
        specs = project.model(name).config.get("tests") or []
        if specs:
            table = engine.relation(name).render_unquoted()
            report = run_checks(
                engine.spark, [{**sp, "table": table} for sp in specs],
                engine=engine)
            out += [("test", r.check, r.status, f"{r.violations} violations")
                    for r in report.collect()]
        return out

    def ok(name: str) -> bool:
        return all(r[2] != "error" for r in built[name])

    def step(name: str) -> bool:
        built[name] = _in_model_group(engine, name,
                                      lambda: build_and_test(name))
        return ok(name)

    levels = project.topo_order()
    skipped = _schedule(project, levels, chosen, step, threads)
    for level in levels:
        # a level's skipped models are reported first, then its built ones
        rows += [("model", n, "skip",
                  "upstream failed: %s" % ", ".join(skipped[n]))
                 for n in level if n in skipped]
        rows += [r for n in level if n in built for r in built[n]]
    failed |= set(skipped) | {n for n in built if not ok(n)}

    for spec in snapshots or []:
        src = spec["source_sql"]
        ref_deps = set(_REF_RE.findall(src)) & model_names
        sdeps = ref_deps | (set(spec.get("depends_on", ())) & model_names)
        if sdeps & failed:
            rows.append(("snapshot", spec["name"], "skip",
                         "upstream failed: %s"
                         % ", ".join(sorted(sdeps & failed))))
            continue
        sql = _REF_RE.sub(lambda m: engine.ref(m.group(1)), src)
        sql = _SRC_RE.sub(lambda m: engine.source(m.group(1)), sql)
        try:
            run_snapshot(
                engine, spec["name"], sql, spec["unique_key"],
                strategy=spec.get("strategy", "timestamp"),
                updated_at=spec.get("updated_at"),
                check_cols=spec.get("check_cols"),
                invalidate_hard_deletes=spec.get(
                    "invalidate_hard_deletes", False),
                snapshot_time=spec.get("snapshot_time"),
                partition_by=spec.get("partition_by"),
            )
            rows.append(("snapshot", spec["name"], "success", None))
        except Exception as exc:
            rows.append(("snapshot", spec["name"], "error", str(exc)[:500]))

    return local_frame(
        engine.spark, rows,
        "node_type string, name string, status string, detail string")
