"""The staging primitive: every intermediate an operator pins (SQL-cache
persist or localCheckpoint) is released by the operator that pinned it,
also when it raises. Only the pins of the returned result stay stored.

The Spark fixture is session-scoped, so each check compares the persisted
RDDs and the SQL cache before and after one call. ``getPersistentRDDs`` is
the synchronous registry behind ``getRDDStorageInfo`` (the latter also
waits for the status store), so a pin that was released is gone from it
when the call returns."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import DataFrame

from conftest import SF_DIR
from dbt_extrica_spark import Engine, Model
from dbt_extrica_spark.extensions import dedup, pipeline, textstats
from dbt_extrica_spark.operators import materializations, merge
from dbt_extrica_spark.staging import release, staged

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "dbt_extrica_spark"
_RAW_PIN = re.compile(
    r"\.persist\(|\.cache\(\)|\.unpersist\(|release_local_checkpoint")


def test_pins_only_in_staging_module():
    hits = [f"{p.relative_to(PACKAGE)}:{i}: {line.strip()}"
            for p in sorted(PACKAGE.rglob("*.py")) if p.name != "staging.py"
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if _RAW_PIN.search(line)]
    assert hits == []


def _stored(spark) -> tuple[set[int], int]:
    """(persisted RDD ids, SQL cache entries)."""
    rdds = {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet()}
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return rdds, int(field.get(cm).size())


def _result_rdds(result) -> set[int]:
    """The checkpoint RDDs the returned DataFrame(s) read."""
    frames = result if isinstance(result, tuple) else (result,)
    ids = set()
    for df in frames:
        if not isinstance(df, DataFrame):
            continue
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                ids.add(int(leaf.rdd().id()))
    return ids


def _assert_released(spark, call):
    rdds0, cached0 = _stored(spark)
    result = call()
    rdds1, cached1 = _stored(spark)
    assert rdds1 - rdds0 <= _result_rdds(result), "pinned RDDs left stored"
    assert cached1 <= cached0, "SQL cache entries left behind"
    return result


def _assert_released_on_error(spark, call, match="injected"):
    rdds0, cached0 = _stored(spark)
    with pytest.raises(Exception, match=match):
        call()
    rdds1, cached1 = _stored(spark)
    assert rdds1 - rdds0 == set(), "pinned RDDs left stored"
    assert cached1 <= cached0, "SQL cache entries left behind"


@pytest.fixture(scope="module")
def docs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text")
    # an exact copy and a near-duplicate of doc 0, so every dedup stage has
    # pairs to pin
    first = docs.where("doc_id = 0")
    return (docs.where("doc_id < 120")
            .unionByName(first.selectExpr("99998 AS doc_id", "text"))
            .unionByName(first.selectExpr(
                "99999 AS doc_id", "concat(text, ' extra') AS text")))


@pytest.mark.parametrize("auto_scale_rows", [100_000, 10],
                         ids=["one_pass", "prefix_filter"])
def test_clean_corpus_releases_its_pins(spark, docs, auto_scale_rows):
    out = _assert_released(spark, lambda: pipeline.clean_corpus(
        docs, auto_scale_rows=auto_scale_rows))
    assert out.count() > 0
    release(out)


@pytest.mark.parametrize("expand_members", [True, False])
def test_minhash_releases_its_pins(spark, docs, expand_members):
    out = _assert_released(spark, lambda: dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", k=5, threshold=0.7,
        expand_members=expand_members))
    if expand_members:
        assert (0, 99998) in {(r.id_a, r.id_b) for r in out.collect()}
        release(out)
    else:  # the exact copy joins doc 0's group
        assert (99998, 0) in {(r.id, r.rep) for r in out[1].collect()}
        release(out[0])
        release(out[1])


@pytest.mark.parametrize("strategy", ["full", "delta", "driver"])
def test_bpe_train_releases_its_pins(spark, docs, strategy):
    merges = _assert_released(spark, lambda: textstats.bpe_train(
        docs, "text", n_merges=4, strategy=strategy))
    assert len(merges) == 4


@pytest.mark.parametrize("local_threshold", [100_000, 0],
                         ids=["union_find", "distributed"])
def test_connected_components_releases_its_pins(spark, local_threshold):
    pairs = spark.sql("SELECT x AS id_a, x + 1 AS id_b FROM"
                      " (SELECT explode(sequence(0, 30)) AS x)")
    comp = _assert_released(spark, lambda: dedup.connected_components(
        pairs, local_threshold=local_threshold))
    assert {r.component for r in comp.collect()} == {0}


@pytest.fixture()
def engine(spark):
    eng = Engine(spark)
    yield eng
    eng.close()


_MERGE = {"materialized": "incremental", "incremental_strategy": "merge",
          "unique_key": "k"}


def _merge_model(engine, name, rows, config=_MERGE):
    engine.materialize(Model(name, config=config, sql=(
        f"SELECT * FROM VALUES {rows} AS t(k, v, p)")))


@pytest.mark.parametrize("row_cap", [None, 0], ids=["broadcast", "persist"])
def test_merge_batch_releases_its_pins(spark, engine, monkeypatch, row_cap):
    if row_cap is not None:
        monkeypatch.setattr(materializations, "_STAGE_BCAST_ROW_CAP", row_cap)
    _merge_model(engine, "stg_merge", "(1, 'a', 0), (2, 'b', 1)")
    _assert_released(spark, lambda: _merge_model(
        engine, "stg_merge", "(2, 'B', 1), (3, 'c', 0)"))
    assert {tuple(r) for r in engine.table("stg_merge").collect()} == {
        (1, "a", 0), (2, "B", 1), (3, "c", 0)}


def _boom(*_a, **_k):
    raise RuntimeError("injected")


def _fails_late(fn):
    """Run the real ``fn`` (so the caller's pins it reads are stored), then
    fail as if at its very end: its own result never reaches the caller."""
    def wrapped(*a, **k):
        release(fn(*a, **k))
        raise RuntimeError("injected")
    return wrapped


def _clean_corpus_fails(spark, engine, docs, m):
    # the feature table is stored when the pair stage fails
    m.setattr(dedup, "ngram_jaccard_pairs",
              _fails_late(dedup.ngram_jaccard_pairs))
    return lambda: pipeline.clean_corpus(docs)


def _bpe_train_fails(spark, engine, docs, m):
    # the word table is checkpointed when the pair count fails
    m.setattr(textstats, "_bpe_pair_counts", _boom)
    return lambda: textstats.bpe_train(docs, "text", n_merges=2,
                                       strategy="delta")


def _cc_fails(spark, engine, docs, m):
    # the edge and label tables are stored when the round budget runs out
    pairs = spark.sql("SELECT x AS id_a, x + 1 AS id_b FROM"
                      " (SELECT explode(sequence(0, 30)) AS x)")
    return lambda: dedup.connected_components(pairs, max_iter=1,
                                              local_threshold=0)


def _merge_fails(spark, engine, docs, m):
    # the merge batch is checkpointed when the merge fails
    _merge_model(engine, "stg_fail", "(1, 'a', 0), (2, 'b', 1)")
    m.setattr(merge, "merge_upsert", _boom)
    return lambda: _merge_model(engine, "stg_fail", "(2, 'B', 1)")


def _partition_overwrite_fails(spark, engine, docs, m):
    # the partition-scoped commit fails after the merge batch is staged
    parted = dict(_MERGE, partition_by=["p"])
    _merge_model(engine, "stg_fail_parted", "(1, 'a', 0), (2, 'b', 1)",
                 parted)
    m.setattr(merge, "dynamic_overwrite_insert", _boom)
    return lambda: _merge_model(engine, "stg_fail_parted", "(2, 'B', 1)",
                                parted)


@pytest.mark.parametrize("setup", [
    _clean_corpus_fails, _bpe_train_fails, _cc_fails, _merge_fails,
    _partition_overwrite_fails], ids=lambda f: f.__name__.strip("_"))
def test_failure_after_staging_leaves_nothing_stored(spark, engine, docs,
                                                     monkeypatch, setup):
    call = setup(spark, engine, docs, monkeypatch)
    _assert_released_on_error(
        spark, call,
        match="did not converge" if setup is _cc_fails else "injected")


def test_stage_keeps_only_what_it_hands_off(spark):
    rdds0, _ = _stored(spark)
    with staged() as st:
        a = st.checkpoint(spark.range(4))
        b = st.cache(spark.range(6).selectExpr("id * 2 AS x"))
        b.count()
        kept = st.keep(st.checkpoint(a.selectExpr("id + 1 AS id")))
        st.release(a)
        assert b.count() == 6
    assert _stored(spark)[0] - rdds0 == _result_rdds(kept)
    assert kept.count() == 4
    release(kept)
    assert _stored(spark)[0] - rdds0 == set()
