"""DAG-ordered, thread-parallel model runner.

Reference analog: dbt-core runs N models concurrently on one connection per
thread (reference: README.md:77 ``threads``; connections.py:344 thread-keyed
registry). Spark sessions are thread-safe; each worker thread tags its jobs
with a scheduler pool + job group so independent models share the cluster
fairly and can be cancelled individually (reference: connections.py:315-316).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING

from ..relation import Relation

if TYPE_CHECKING:  # pragma: no cover
    from ..engine import Engine
    from .model import Project


def run_project(engine: "Engine", project: "Project", threads: int = 4,
                full_refresh: bool = False,
                select: list[str] | str | None = None,
                exclude: list[str] | str | None = None
                ) -> dict[str, Relation]:
    """Execute every selected model, level-parallel per the dependency DAG.
    ``select``/``exclude`` take dbt node-selection specs (``name``,
    ``+name``, ``name+`` — Project.select_nodes); an unselected upstream
    is NOT rebuilt — refs resolve to its existing relation, exactly like
    ``dbt run --select``."""
    chosen = project.select_nodes(select, exclude)
    results: dict[str, Relation] = {}

    def _run(name: str) -> tuple[str, Relation]:
        model = project.model(name)
        sc = engine.spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"model_{name}")
        sc.setJobGroup(f"model_{name}", f"dbt_extrica_spark model {name}",
                       interruptOnCancel=True)
        try:
            rel = engine.materialize(model, full_refresh=full_refresh)
            return name, rel
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)
            sc._jsc.clearJobGroup()

    for level in project.topo_order():
        level = [n for n in level if n in chosen]
        if len(level) == 1 or threads <= 1:
            for name in level:
                n, rel = _run(name)
                results[n] = rel
        else:
            with ThreadPoolExecutor(max_workers=threads) as pool:
                for n, rel in pool.map(_run, level):
                    results[n] = rel
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
    / ``error`` for tests. Models within a DAG level still build
    thread-parallel; tests run serially after the level completes so the
    report order is deterministic.
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
    deps = {m.name: (m.refs() & model_names) for m in project.models}

    for s in seeds or []:
        try:
            run_seed(engine, s["name"], s["csv_text"],
                     s.get("column_types"), s.get("properties"))
            rows.append(("seed", s["name"], "success", None))
        except Exception as exc:  # report, don't abort the build
            rows.append(("seed", s["name"], "error", str(exc)[:500]))
            failed.add(s["name"])

    def _build_one(name: str) -> tuple[str, str, str | None]:
        try:
            engine.materialize(project.model(name),
                               full_refresh=full_refresh)
            return name, "success", None
        except Exception as exc:
            return name, "error", str(exc)[:500]

    for level in project.topo_order():
        runnable = []
        for name in level:
            if name not in chosen:
                continue
            if deps[name] & failed:
                rows.append(("model", name, "skip",
                             "upstream failed: %s"
                             % ", ".join(sorted(deps[name] & failed))))
                failed.add(name)
            else:
                runnable.append(name)
        if len(runnable) <= 1 or threads <= 1:
            built = [_build_one(n) for n in runnable]
        else:
            with ThreadPoolExecutor(max_workers=threads) as pool:
                built = list(pool.map(_build_one, runnable))
        for name, status, detail in built:
            rows.append(("model", name, status, detail))
            if status == "error":
                failed.add(name)
                continue
            specs = project.model(name).config.get("tests") or []
            if not specs:
                continue
            table = engine.relation(name).render_unquoted()
            report = run_checks(
                engine.spark, [{**sp, "table": table} for sp in specs],
                engine=engine)
            for r in report.collect():
                rows.append(("test", r.check, r.status,
                             f"{r.violations} violations"))
                if r.status == "error":
                    failed.add(name)

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

    return engine.spark.createDataFrame(
        rows, "node_type string, name string, status string, detail string")
