"""The two workloads and their output checks.

Each workload is one process, one client, in a closed loop: the next
operation starts when the previous one (and its check) has ended. Spark runs
as ``local[nproc]`` with ``nproc`` shuffle partitions, and the project runner
with ``nproc`` threads.

- ``project_build``: a scheduled re-run. Each build first folds a fresh
  seeded change batch into a changelog table (``apply_cdc`` +
  ``overwrite_table_atomic``), then runs ``build_project`` +
  ``generate_docs`` over the project in ``project.py``. Work sits in the
  runner, engine, materializations, merge/snapshot operators, catalog,
  testing and dialect layers; almost none in ``extensions``.
- ``corpus_pipeline``: the LLM-data steps over a corpus with planted
  duplicates. Work sits in ``extensions`` and the Python workers; almost
  none in ``engine``, ``catalog`` or ``operators``.

Every operation (a node, the changelog step, a corpus step) is checked
against an answer the benchmark computes on its own, with DuckDB or NumPy
over the same generated inputs. A mismatch counts as a failed operation and
is printed; it never stops the run.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager

import duckdb
import numpy as np

import gen
import project
import stats
from spans import Tracer, scan_files, written

NPROC = len(os.sched_getaffinity(0))
# at least the first (cold) operation and one warm one, however long they take
MIN_OPS = 2
SETUP_REPS = 3
SCHEMA = "bench"
_TMP_NAME = re.compile(r"__(dbt_tmp|dbt_backup|stg_[0-9a-f]+|bak_[0-9a-f]+)$")

# (workload, size) facts, printed with every run
SIZES = {
    # delta_share: change-batch rows per build, as a share of orders
    "project_build": {"sf": 0.001, "delta_share": 0.1},
    "corpus_pipeline": {"documents": 600, "embeddings": 400,
                        "media": 32},
}


def instrument(tracer: Tracer) -> None:
    """Wrap the package's public functions named in the per-layer metrics."""
    from dbt_extrica_spark import catalog, connections, engine, session, \
        testing
    from dbt_extrica_spark.functions import dialect
    from dbt_extrica_spark.operators import merge, snapshot
    from dbt_extrica_spark.plans import model, runner

    w = tracer.wrap
    w(session, "get_spark", "session.get_spark")
    w(engine.Engine, "register_sources", "engine.register_sources")
    w(runner, "build_project", "plans.runner.build_project")
    w(model.Project, "topo_order", "plans.model.topo_order")
    w(engine.Engine, "compile_sql", "engine.compile_sql")
    w(engine.Engine, "materialize",
      lambda a: "engine.materialize." + a[1].materialized)
    w(engine.Engine, "overwrite_table_atomic", "engine.overwrite_table_atomic")
    w(engine.Engine, "generate_docs", "engine.generate_docs")
    for f in ("merge_upsert", "delete_insert", "apply_cdc"):
        w(merge, f, "operators.merge." + f, lazy=True)
    w(merge, "partition_scoped_overwrite",
      "operators.merge.partition_scoped_overwrite")
    w(snapshot, "snapshot", "operators.snapshot.snapshot")
    tracer.count(catalog.CatalogClient, "catalog.calls")
    for f in ("get_relation", "rename_relation", "drop_relation",
              "get_columns_in_relation", "get_catalog"):
        w(catalog.CatalogClient, f, "catalog." + f)
    w(connections.ExecutionManager, "execute", "connections.execute")
    w(testing, "run_checks", "testing.run_checks")
    w(dialect, "translate_trino_sql", "functions.dialect.translate_trino_sql")


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class Bench:
    """One run: the Spark session, the tracer and the tallies."""

    def __init__(self, work: str, seed: int, seconds: float, tracer: Tracer):
        self.work, self.seconds, self.tracer = work, seconds, tracer
        self.rng = np.random.default_rng(seed)
        self.data = os.path.join(work, "data")
        self.setup_s: list[float] = []
        self.op_s: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.engine = None
        self.facts: dict = {}
        self.peak_kb = 0
        # traced runs only
        self.cached_bytes: list[int] = []
        self.leftovers: list[int] = []
        self.storage = defaultdict(lambda: {"files": 0, "bytes": 0,
                                            "partitions": set()})
        self._files: dict = {}
        self.kind_of: dict[str, str] = {}
        self.stored_per_live = math.nan

    # -- measured phases -------------------------------------------------
    @contextmanager
    def measured(self, span: str, samples: list[float]):
        """Time a phase into ``samples`` and track peak memory over it: the
        VmHWM counters of this process and its JVM are reset on entry and
        read on exit, so the benchmark's own checks between phases do not
        count."""
        for pid in _driver_pids():
            _write_proc(pid, "clear_refs", "5")
        t0 = time.perf_counter()
        with self.tracer.span(span):
            yield
        samples.append(time.perf_counter() - t0)
        self.peak_kb = max(self.peak_kb, sum(
            _status_kb(pid, "VmHWM") for pid in _driver_pids()))

    def setup(self, tables: tuple[str, ...]) -> None:
        """Start the session and register the sources ``SETUP_REPS`` times;
        the first start also launches the JVM."""
        from dbt_extrica_spark import session
        from dbt_extrica_spark.engine import Engine

        for i in range(SETUP_REPS):
            if self.spark is not None:
                self.stop_session()
            with self.measured("op.setup", self.setup_s):
                spark = session.get_spark(master=f"local[{NPROC}]",
                                          shuffle_partitions=NPROC)
                self.tracer.sc = spark.sparkContext
                engine = Engine(spark, schema=SCHEMA, warehouse_dir=os.path
                                .join(self.work, f"wh{i}"))
                engine.register_sources(self.data, tables)
            self.spark, self.engine = spark, engine

    def stop_session(self) -> None:
        self.tracer.sc = None
        self.spark.stop()
        shutil.rmtree(self.engine.warehouse_dir, ignore_errors=True)
        self.spark = self.engine = None

    @property
    def warehouse(self) -> str:
        return os.path.join(self.engine.warehouse_dir, SCHEMA)

    # -- tallies -----------------------------------------------------------
    def check(self, op: str, problem: str | None) -> None:
        """Count one operation; ``problem`` is None when its output matched."""
        self.attempted += 1
        if problem:
            self.failures.append(f"{op}: {problem}")

    @property
    def failed(self) -> int:
        return len(self.failures)

    def loop(self, one_op) -> None:
        """Run ``one_op(k)`` back to back until ``seconds`` have passed; each
        times its operation with ``measured(..., self.op_s)``, checks
        excluded."""
        t_end = time.perf_counter() + self.seconds
        while len(self.op_s) < MIN_OPS or time.perf_counter() < t_end:
            one_op(len(self.op_s))
            if self.tracer.enabled:
                self.observe()

    # -- traced observations ----------------------------------------------
    def observe(self) -> None:
        """After an operation: storage still cached, leftover staging
        relations, and the files written since the last look."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.cached_bytes.append(
            sum(i.memSize() + i.diskSize() for i in infos))
        names = [t.name for t in self.spark.catalog.listTables(SCHEMA)]
        self.leftovers.append(sum(bool(_TMP_NAME.search(n)) for n in names))
        files = {}
        for root in (self.warehouse, os.path.join(self.work, "out")):
            if os.path.isdir(root):
                files.update({os.path.join(root, p): v
                              for p, v in scan_files(root).items()})
        for path, size in written(self._files, files):
            rel = os.path.relpath(path, self.work).split(os.sep)
            kind = self.kind_of.get(_TMP_NAME.sub("", rel[2]), "other") \
                if rel[0].startswith("wh") else "corpus"
            agg = self.storage[kind]
            agg["files"] += 1
            agg["bytes"] += size
            agg["partitions"].update(p for p in rel[:-1] if "=" in p)
        self._files = files

    def measure_stored_per_live(self, dirs: dict[str, str], read) -> None:
        """``dirs``: name -> on-disk directory; ``read(name)`` gives the
        rows the name holds, which are written once, compacted."""
        compacted = []
        for name in dirs:
            out = os.path.join(self.work, "compacted", name)
            read(name).coalesce(1).write.parquet(out)
            compacted.append(out)
        self.stored_per_live = stats.stored_per_live(list(dirs.values()),
                                                     compacted)


# --------------------------------------------------------------------------
# project_build
# --------------------------------------------------------------------------

_ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]
# every relation a build must leave right: (key column, checksum)
_CHECKS = {**project.CHECKS, "orders_cdc": ("o_orderkey", "sum(o_totalprice)")}


def _check_sql(node: str, relation: str, where: str = "") -> str:
    """(rows, distinct keys, checksum) of ``relation``, in DuckDB."""
    key, chk = _CHECKS[node]
    nk = f"count(DISTINCT {key})" if key else "count(*)"
    return (f"SELECT count(*), {nk}, CAST({chk} AS DOUBLE) "
            f"FROM {relation} {where}")


def project_build(b: Bench) -> None:
    from dbt_extrica_spark.operators import merge
    from dbt_extrica_spark.plans import runner

    size = SIZES["project_build"]
    rows = gen.tpch(b.data, b.rng, size["sf"])
    shares = gen.delta_shares(b.rng)
    b.facts.update(rows=rows, delta_shares=vars(shares))
    n_delta = int(rows["orders"] * size["delta_share"])
    seed_csv = os.path.join(b.data, "segment_targets.csv")
    with open(seed_csv, "w", encoding="utf-8") as fh:
        fh.write(project.SEGMENT_CSV)

    duck = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "nation"):
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"read_parquet('{os.path.join(b.data, t)}.parquet')")
    duck.execute(f"CREATE VIEW segment_targets AS SELECT * FROM "
                 f"read_csv_auto('{seed_csv}')")
    for node in project.NODES[1:]:
        duck.execute(f"CREATE VIEW {node} AS {project.duck_sql(node)}")
    expected = {n: duck.execute(_check_sql(n, n)).fetchone()
                for n in project.NODES}
    columns = {n: {c[0] for c in duck.execute(f"DESCRIBE {n}").fetchall()}
               for n in project.NODES}
    columns["snap_customer"] |= project.SNAPSHOT_META
    # the changelog's answer: the orders table with every batch applied
    duck.execute("CREATE TABLE cdc AS SELECT * FROM orders")

    b.setup(("region", "nation", "customer", "supplier", "part", "orders",
             "lineitem"))
    eng = b.engine
    proj = project.build(SCHEMA)
    b.kind_of = {**{m.name: m.materialized for m in proj.models},
                 "orders_cdc": "cdc"}
    state = {"live": np.arange(rows["orders"]), "next": rows["orders"]}

    def as_read(node: str) -> tuple | str:
        """The relation as Spark reads it through the catalog, checked in
        DuckDB with the same SQL as the answer."""
        try:
            have = b.spark.table(f"{SCHEMA}.{node}").toArrow()
        except Exception as exc:  # noqa: BLE001
            return f"unreadable: {_first_line(exc)}"
        duck.register("have", have)
        try:
            return duck.execute(_check_sql(
                node, "have", project.SPARK_FILTER.get(node, ""))).fetchone()
        finally:
            duck.unregister("have")

    def mismatch(have: tuple | str, want: tuple) -> str | None:
        if isinstance(have, str):
            return have
        if have[:2] != want[:2] or not _close(have[2], want[2]):
            return f"(rows, keys, checksum) = {have} != {want}"
        return None

    def next_delta(k: int) -> tuple[str, str]:
        """Write change batch k to a fresh path under a fresh name:
        register_sources keeps an existing relation, so a reused one would
        read stale rows."""
        name = f"orders_delta_{k:04d}"
        bdir = os.path.join(b.work, "deltas", name)
        tbl = gen.orders_delta(b.rng, state["live"], state["next"], n_delta,
                               shares, k, rows["customer"])
        gen.write(bdir, name, tbl)
        ops = np.array(tbl.column("op").to_pylist())
        keys = tbl.column("o_orderkey").to_numpy()
        state["next"] += int((ops == "I").sum())
        state["live"] = np.setdiff1d(
            np.concatenate([state["live"], keys[ops == "I"]]),
            keys[ops == "D"])
        return name, bdir

    def apply_changes(k: int, name: str, bdir: str) -> str | None:
        """Fold change batch k into ``orders_cdc``; the first op creates
        the table from ``orders``."""
        try:
            if k == 0:
                eng.sql(f"CREATE TABLE {SCHEMA}.orders_cdc USING PARQUET AS "
                        f"SELECT * FROM {SCHEMA}.orders")
            eng.register_sources(bdir, (name,))
            eng.overwrite_table_atomic(eng.relation("orders_cdc"),
                                       merge.apply_cdc(
                eng.table("orders_cdc"), eng.table(name), "o_orderkey",
                dest_columns=_ORDER_COLS))
        except Exception as exc:  # noqa: BLE001
            return f"raised {_first_line(exc)}"
        return None

    def one_build(k: int) -> float:
        name, bdir = next_delta(k)
        with b.measured("op.build", b.op_s):
            cdc_error = apply_changes(k, name, bdir)
            built = runner.build_project(eng, proj, threads=NPROC).collect()
            try:
                docs = eng.generate_docs()
            except Exception as exc:  # noqa: BLE001
                docs = f"raised {_first_line(exc)}"

        d = f"read_parquet('{os.path.join(bdir, name)}.parquet')"
        duck.execute(f"DELETE FROM cdc WHERE o_orderkey IN "
                     f"(SELECT o_orderkey FROM {d})")
        duck.execute(f"INSERT INTO cdc SELECT {', '.join(_ORDER_COLS)} "
                     f"FROM {d} WHERE op <> 'D'")
        b.check(f"build {k} changelog orders_cdc", cdc_error or mismatch(
            as_read("orders_cdc"),
            duck.execute(_check_sql("orders_cdc", "cdc")).fetchone()))

        problems: dict[str, list[str]] = defaultdict(list)
        for r in built:
            if r.node_type == "model" and r.status != "success":
                problems[r.name].append(f"build {r.status}: {r.detail}")
            elif r.node_type == "test" and r.status != "pass":
                node = r.name.split(":", 1)[1].split(".")[1]
                problems[node].append(f"test {r.name} {r.status}")
        for node in project.NODES:
            problem = mismatch(as_read(node), expected[node])
            if problem:
                problems[node].append(problem)
            b.check(f"build {k} node {node}", "; ".join(problems[node]))
        if isinstance(docs, str):
            b.check(f"build {k} docs", docs)
        else:
            rels = docs["relations"]
            bad = [n for n in project.NODES if n not in rels or {
                c["name"] for c in rels[n]["columns"]} != columns[n]]
            b.check(f"build {k} docs",
                    bad and f"wrong or missing columns: {bad}")

    b.loop(one_build)
    duck.close()
    if b.tracer.enabled:
        tables = [n for n, kind in b.kind_of.items() if kind != "view"]
        b.measure_stored_per_live(
            {n: os.path.join(b.warehouse, n) for n in tables},
            lambda n: b.spark.table(f"{SCHEMA}.{n}"))


def jvm_process():
    """The JVM child pyspark launched (a ``Popen``), or None."""
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _driver_pids() -> list:
    """This process and, once started, its JVM."""
    proc = jvm_process()
    return ["self"] + ([proc.pid] if proc is not None else [])


def _status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _write_proc(pid, name: str, value: str) -> None:
    with open(f"/proc/{pid}/{name}", "w", encoding="ascii") as fh:
        fh.write(value)


def _first_line(exc: Exception) -> str:
    return (str(exc).strip().splitlines() or [type(exc).__name__])[0][:200]


# --------------------------------------------------------------------------
# corpus_pipeline
# --------------------------------------------------------------------------

STEPS = ("extensions.pipeline.clean_corpus",
          "extensions.dedup.minhash_lsh_pairs",
          "extensions.similarity.ivf_topk",
          "extensions.textstats.text_stats",
          "extensions.multimodal.decode")

_TOKENS = r"regexp_split_to_array(trim(lower(text)), '\s+')"
_SHINGLE_K = 5


def _shingles(text: str) -> set[str]:
    return {text[i:i + _SHINGLE_K]
            for i in range(max(len(text) - _SHINGLE_K + 1, 1))}


def _jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def corpus_pipeline(b: Bench) -> None:
    from dbt_extrica_spark.extensions import (dedup, multimodal, pipeline,
                                              similarity, textstats)

    size = SIZES["corpus_pipeline"]
    corp = gen.corpus(b.data, b.rng, size["documents"], size["embeddings"])
    pixels = gen.media(b.data, b.rng, size["media"])
    b.facts["dup_share"] = corp.dup_share
    b.facts["planted"] = {"exact": len(corp.exact_dups),
                          "near": len(corp.near_dups)}

    duck = duckdb.connect()
    docs_pq = os.path.join(b.data, "documents.parquet")
    duck.execute(f"CREATE TABLE docs AS SELECT doc_id, text FROM "
                 f"read_parquet('{docs_pq}')")
    texts = dict(duck.execute("SELECT doc_id, text FROM docs").fetchall())
    shingles = {i: _shingles(t) for i, t in texts.items()}
    # planted pairs that banding must find: exact Jaccard >= 0.9 puts the
    # 16x4 LSH miss chance below 1e-7 per pair
    must_find = {tuple(sorted(p)) for p in corp.exact_dups + corp.near_dups
                 if _jaccard(shingles[p[0]], shingles[p[1]]) >= 0.9}
    emb = np.stack(duck.execute(
        f"SELECT embedding FROM read_parquet('"
        f"{os.path.join(b.data, 'embeddings.parquet')}') ORDER BY vec_id"
    ).fetchnumpy()["embedding"]).astype(np.float64)
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    cos = unit @ unit.T
    np.fill_diagonal(cos, -np.inf)
    truth = np.argsort(-cos, axis=1, kind="stable")[:, :5]

    b.setup(("documents", "embeddings", "media"))
    spark = b.spark

    def out(k: int, step: str) -> str:
        return os.path.join(b.work, "out", f"p{k}", step.rsplit(".", 1)[1])

    def read(path: str, cols: str = "*"):
        return duck.execute(
            f"SELECT {cols} FROM read_parquet('{path}/*.parquet')")

    def check_clean(path: str) -> str | None:
        duck.execute(f"CREATE OR REPLACE TABLE kept AS SELECT k.doc_id, "
                     f"k.est_llm_tokens, d.text FROM read_parquet("
                     f"'{path}/*.parquet') k LEFT JOIN docs d USING (doc_id)")
        n, n_ids, orphans, bad_tok, short, dup_text = duck.execute(
            f"SELECT count(*), count(DISTINCT doc_id), count(*) - count(text),"
            f" count(*) FILTER (WHERE est_llm_tokens <> "
            f"  CAST(ceil(len({_TOKENS}) * 4 / 3) AS BIGINT)),"
            f" count(*) FILTER (WHERE len({_TOKENS}) < 20),"
            f" count(*) - count(DISTINCT text) FROM kept").fetchone()
        # no kept pair may be a near duplicate (word 3-gram Jaccard >= 0.2)
        near = duck.execute(
            f"WITH t AS (SELECT doc_id, {_TOKENS} AS w FROM kept), "
            f"g AS (SELECT doc_id, list_distinct(list_transform("
            f"  generate_series(1, greatest(len(w) - 2, 1)),"
            f"  i -> array_to_string(w[i:i+2], ' '))) AS g FROM t), "
            f"x AS (SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM g) "
            f"SELECT count(*) FROM (SELECT a.doc_id, b.doc_id, a.n, b.n, "
            f"  count(*) AS i FROM x a JOIN x b ON a.gram = b.gram "
            f"  AND a.doc_id < b.doc_id GROUP BY ALL "
            f"  HAVING i / (a.n + b.n - i) >= 0.2)").fetchone()[0]
        bad = {"duplicate ids": n - n_ids, "unknown ids": orphans,
               "wrong token estimate": bad_tok, "under 20 tokens": short,
               "exact duplicates kept": dup_text, "near duplicates kept": near,
               "empty output": int(n == 0)}
        bad = {k: v for k, v in bad.items() if v}
        return str(bad) if bad else None

    def check_pairs(path: str) -> str | None:
        rows = read(path, "id_a, id_b, jaccard").fetchall()
        wrong = [(a, bb, j) for a, bb, j in rows
                 if not (a < bb and _jaccard(shingles[a], shingles[bb]) >= 0.5
                         and math.isclose(j, _jaccard(shingles[a],
                                                      shingles[bb]),
                                          abs_tol=1e-12))]
        missed = must_find - {(a, bb) for a, bb, _ in rows}
        if wrong or missed:
            return (f"{len(wrong)} wrong pairs (e.g. {wrong[:2]}), "
                    f"{len(missed)} planted pairs missed (e.g. "
                    f"{sorted(missed)[:2]})")
        return None

    def check_topk(path: str) -> str | None:
        rows = read(path, "query_id, neighbor_id, cosine").fetchnumpy()
        q, nb, c = rows["query_id"], rows["neighbor_id"], rows["cosine"]
        per_query = np.bincount(q, minlength=len(emb))
        bad_cos = int((np.abs(cos[q, nb] - c) > 1e-4).sum())
        hits = sum(int(n) in set(truth[int(qq)]) for qq, n in zip(q, nb))
        recall = hits / truth.size
        if (per_query != 5).any() or (q == nb).any() or bad_cos \
                or recall < 0.9:
            return (f"queries without 5 neighbours: "
                    f"{int((per_query != 5).sum())}, self matches: "
                    f"{int((q == nb).sum())}, wrong cosines: {bad_cos}, "
                    f"recall@5 {recall:.3f} < 0.9")
        return None

    def check_stats(path: str) -> str | None:
        n_bad, n, n_want = duck.execute(
            f"WITH want AS (SELECT doc_id, len({_TOKENS}) AS n_tokens,"
            f" length(text) AS n_chars,"
            f" length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
            f"   / length(text) AS alpha_ratio,"
            f" len(list_distinct({_TOKENS})) / len({_TOKENS})"
            f"   AS distinct_token_ratio FROM docs),"
            f" have AS (SELECT * FROM read_parquet('{path}/*.parquet'))"
            f" SELECT count(*) FILTER (WHERE h.doc_id IS NULL"
            f"   OR h.n_tokens <> w.n_tokens OR h.n_chars <> w.n_chars"
            f"   OR abs(h.alpha_ratio - w.alpha_ratio) > 1e-9"
            f"   OR abs(h.distinct_token_ratio - w.distinct_token_ratio)"
            f"      > 1e-9),"
            f" (SELECT count(*) FROM have), count(*)"
            f" FROM want w LEFT JOIN have h USING (doc_id)").fetchone()
        if n_bad or n != n_want:
            return f"{n_bad} documents with wrong stats; {n} rows != {n_want}"
        return None

    def check_decode(path: str) -> str | None:
        rows = read(path, "media_id, width, height, channels, pixel_sum, "
                          "decoded").fetchall()
        got = {r[0]: (r[1], r[2], r[4]) for r in rows if r[5] and r[3] == 3}
        wrong = [i for i, want in pixels.items() if got.get(i) != want]
        if wrong or len(rows) != len(pixels):
            return f"{len(wrong)} images decoded wrong (e.g. {wrong[:3]})"
        return None

    docs = spark.table(f"{SCHEMA}.documents")
    vecs = spark.table(f"{SCHEMA}.embeddings")
    media = spark.table(f"{SCHEMA}.media")
    steps = {
        STEPS[0]: (lambda: pipeline.clean_corpus(docs), check_clean),
        STEPS[1]: (lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=_SHINGLE_K, num_perm=64, bands=16,
            threshold=0.5), check_pairs),
        STEPS[2]: (lambda: similarity.ivf_topk(
            vecs, "vec_id", "embedding", k=5, n_cells=16, nprobe=3),
            check_topk),
        STEPS[3]: (lambda: textstats.text_stats(docs, "doc_id", "text"),
                    check_stats),
        STEPS[4]: (lambda: multimodal.decode_stats(
            media.coalesce(spark.sparkContext.defaultParallelism)),
            check_decode),
    }

    def one_pass(k: int) -> float:
        shutil.rmtree(os.path.join(b.work, "out", f"p{k - 2}"),
                      ignore_errors=True)
        errors = {}
        with b.measured("op.pass", b.op_s):
            for step, (run, _check) in steps.items():
                # the span covers the call and the write forcing its result
                with b.tracer.span(step):
                    try:
                        run().write.parquet(out(k, step))
                    except Exception as exc:  # noqa: BLE001
                        errors[step] = f"raised {_first_line(exc)}"
        for step, (_run, check) in steps.items():
            try:
                problem = errors.get(step) or check(out(k, step))
            except Exception as exc:  # noqa: BLE001
                problem = f"output unreadable: {_first_line(exc)}"
            b.check(f"pass {k} {step.rsplit('.', 1)[1]}", problem)

    b.loop(one_pass)
    duck.close()
    if b.tracer.enabled:
        last = len(b.op_s) - 1
        dirs = {s.rsplit(".", 1)[1]: out(last, s) for s in STEPS}
        b.measure_stored_per_live(dirs, lambda n: spark.read.parquet(dirs[n]))


WORKLOADS = {
    "project_build": project_build,
    "corpus_pipeline": corpus_pipeline,
}
