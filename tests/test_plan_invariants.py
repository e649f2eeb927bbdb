"""Golden-plan regression guard (r11 verdict #3).

plan_lint (tools/plan_lint.py) is a point-in-time anti-pattern sweep; this
test pins POSITIVE plan invariants for the battery's most expensive
lazy-plan entries so a future edit that silently de-broadcasts a dimension
join, drops a pushed filter, or adds a stray shuffle fails a TEST instead
of showing up one round later as a slow bench line.

What is asserted, per entry (node counts from the formatted-explain
DETAIL section, so each physical node counts once):
- ``bhj_min``    — at least N BroadcastHashJoins (the dimension chain)
- ``smj_max``    — at most N SortMergeJoins (0 for all-broadcast plans)
- ``bnlj_max``   — at most N BroadcastNestedLoopJoins (only the
  allowlisted bounded exact-reference sides may have one)
- ``pushed_min`` — at least N scans with NON-EMPTY PushedFilters
- ``exchange_max`` — at most N shuffle Exchanges (BroadcastExchange is a
  separate node name and does not count)
- ``hashagg``    — exact HashAggregate count (2 = one partial/final pair
  around a single exchange)
- ``window_min`` — at least N Window nodes

Checked red-path: forcing spark.sql.autoBroadcastJoinThreshold=-1 turns
q5's five BroadcastHashJoins into SortMergeJoins and MUST trip the
invariants (test_guard_goes_red_when_broadcasts_forced_off proves the
guard actually guards).

Deliberately NOT covered here: the checkpoint-heavy pipelines
(pipeline_clean_corpus, dedup_minhash*, pipeline_pretrain_corpus,
multimodal_*, streaming_*) return POST-execution plans (LogicalRDD /
ExistingRDD leaves) whose interesting stages already executed — their
anti-pattern coverage is plan_lint over the full battery, and their cost
posture is the scale floors in NEXT.md.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest

from dbt_extrica_spark import queries as battery

SF_DIR = "/root/testdata/sf0.001"


def _plan_counts(df):
    spark = df.sparkSession
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    nodes = Counter(re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M))
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    return nodes, pushed


# expectations measured at sf0.001 / local[4] / shuffle_partitions=4 — the
# deterministic test session; thresholds are chosen so host noise can't
# flip them but a de-broadcast / dropped pushdown / extra shuffle does
INVARIANTS = {
    "q1_pricing_summary": dict(pushed_min=1, exchange_max=1, hashagg=2,
                               smj_max=0),
    "q5_region_revenue": dict(bhj_min=5, smj_max=0, pushed_min=3,
                              exchange_max=1),
    "q7_volume_by_nation_year": dict(bhj_min=2, smj_max=0, pushed_min=3,
                                     exchange_max=1),
    "q10_returned_items": dict(bhj_min=3, smj_max=0, pushed_min=3,
                               exchange_max=1),
    "q9_product_profit": dict(bhj_min=5, smj_max=0, exchange_max=3),
    "q2_min_cost_supplier": dict(bhj_min=4, smj_max=0, exchange_max=2,
                                 window_min=1),
    "q6_forecast_revenue": dict(pushed_min=1, exchange_max=1, hashagg=2),
    "q19_disjunctive_brackets": dict(bhj_min=1, bnlj_max=0, pushed_min=2),
    "q_semi_anti": dict(bhj_min=2, smj_max=0, exchange_max=0),
    "q_window_rank": dict(bhj_min=1, exchange_max=2, window_min=2),
    # sessionize: the two windows and the final agg share ONE shuffle
    "q_sessionize": dict(exchange_max=1, window_min=2),
    "dedup_exact": dict(exchange_max=1, hashagg=2, smj_max=0),
    # the exact reference side is the allowlisted bounded BNLJ
    "ann_cosine_topk": dict(bnlj_max=1, exchange_max=1, window_min=1),
    "sample_leakage_split": dict(smj_max=1, bnlj_max=0),
    # r11: MG summary — windows sit on the counts partitioning; the two
    # BNLJ are the 1-row stats crossJoins (lint-allowlisted); no SMJ
    "sketch_heavy_hitters": dict(smj_max=0, bnlj_max=2, window_min=4),
    "sketch_heavy_bytes": dict(smj_max=0, bnlj_max=2, window_min=4),
    # r12: theta sketch — the 11 BNLJ are the 1-row theta/exact stats
    # crossJoins (contract apparatus; +2 per set-op after the
    # empty-candidate theta fix routed theta through the stats side);
    # the operator itself is distinct + window / TakeOrderedAndProject,
    # never an SMJ or cartesian
    "sketch_theta_ops": dict(smj_max=0, bnlj_max=11, pushed_min=4,
                             exchange_max=20),
    # r12: per-key cap — both modes share ONE exchange each; rn <= cap
    # must stay a rank-truncated window (WindowGroupLimit is asserted in
    # the operator's unit test; node drift shows here as extra shuffles)
    "sample_cap_per_source": dict(smj_max=0, bnlj_max=0, window_min=2,
                                  exchange_max=2),
    # r13: Bloom membership — the bitmap is checkpointed model state, so
    # the lazy plan is exactly the probe: n_hashes+1 broadcast word/truth
    # joins, ONE shuffle (the blocklist distinct), zero SMJ/BNLJ. A
    # stray shuffle here means the probe side stopped being map-side.
    "sketch_bloom_filter": dict(bhj_min=5, smj_max=0, bnlj_max=0,
                                exchange_max=1, hashagg=2),
    # r13: Bloom-accelerated exact anti-join — both output branches stay
    # broadcast (2 x n_hashes probe joins + the candidate anti-join);
    # the single exchange is the blocklist distinct
    "dedup_bloom_blocklist": dict(bhj_min=11, smj_max=0, bnlj_max=0,
                                  exchange_max=1),
    # r13: one-pass column profile — ONE scan stacked into k column
    # groups; the two exchanges are the countDistinct expand's
    # partial/final pair. A third exchange means the stack stopped
    # being single-scan.
    "dq_profile_table": dict(smj_max=0, bnlj_max=0, exchange_max=2),
    # r13 late batch: priority sampling — ONE corpus shuffle (the
    # grouped-mode window partitioning); the rn <= k+1 filters must
    # stay rank-truncated windows (2 WindowGroupLimit nodes, asserted
    # in the operator's unit test) and the global mode must stay a
    # TakeOrderedAndProject, never a global sort or SMJ
    "sample_priority_topk": dict(smj_max=0, bnlj_max=0, exchange_max=1,
                                 window_min=4),
    # r13 late batch: PMI collocations — the unigram table is
    # checkpointed (one corpus scan for unigrams, one lazy for
    # bigrams); unigram joins must stay broadcast, the only BNLJ is
    # the 1-row total-token crossJoin (lint-allowlisted), and the
    # bigram aggregation keeps its partial/final pair
    "text_collocations_pmi": dict(bhj_min=2, smj_max=0, bnlj_max=1,
                                  exchange_max=2, hashagg=4),
    # r13 late batch: gapfill+locf — the rollup is checkpointed (one
    # eager corpus aggregation feeds keys AND the grid join; the
    # sparse-series pushdown happens in that eager phase), the grid
    # join stays broadcast, and the lazy fill is ONE shuffle (the
    # locf window)
    "ts_gapfill_locf": dict(bhj_min=1, smj_max=0, bnlj_max=0,
                            exchange_max=1, window_min=1),
    # r13 late batch: MAD outliers — EVERY window (two rank passes,
    # two median selections, group count) sits on the group
    # partitioning, so the whole sweep is ONE shuffle + the summary
    # agg pair; the not-null filter reaches the scan
    "dq_outliers_mad": dict(smj_max=0, bnlj_max=0, pushed_min=1,
                            exchange_max=1, window_min=5, hashagg=2),
    # r13 late batch: exact gram matrix — one scan, one Generate
    # (the d^2 term explode), one partial/final aggregate pair on
    # (i, j); the not-null filter reaches the scan. A second exchange
    # means the explode stopped feeding a map-side partial agg.
    "embedding_pca_gram": dict(smj_max=0, bnlj_max=0, pushed_min=1,
                               exchange_max=1, hashagg=2),
    # r13 late batch: correlation matrix — NO row blowup: the pair
    # products are aggregate EXPRESSIONS, so the plan is one scan +
    # one partial/final pair to a single stats row (the Generate is
    # the 1-row pair reshape); the not-null filter reaches the scan.
    # A Generate BELOW the aggregate or a second exchange means the
    # d^2 explode came back.
    "stats_correlation_matrix": dict(smj_max=0, bnlj_max=0, hashagg=2,
                                     exchange_max=1, pushed_min=1),
    # r14 (verdict #6): sorted-neighborhood blocking — the global rank
    # must stay the TWO-PHASE distributed prefix count (per-partition
    # rank window + offset window = 2 Window nodes over 2 exchanges;
    # a refactor to a single global ROW_NUMBER window would read
    # window_min=1 and sort the corpus in ONE task), and the
    # neighbor pairing must stay the bucket equi-join (broadcast at
    # battery scale), never an SMJ/BNLJ all-pairs
    "dedup_sorted_neighborhood": dict(smj_max=0, bnlj_max=0,
                                      exchange_max=2, window_min=2,
                                      bhj_min=1),
    # r14 (verdict #6): equi-depth histogram — the shared two-phase
    # rank keeps its single per-partition Window (the offset pass is
    # arithmetic, not a second window) and the per-bucket stats keep
    # their partial/final aggregate pairs; a fourth exchange or any
    # SMJ means the rank degraded to a global sort or the bucket agg
    # stopped combining map-side
    "stats_equi_depth_histogram": dict(smj_max=0, bnlj_max=0,
                                       exchange_max=3, window_min=1,
                                       hashagg=4),
    # r14: exact AUC — ONE corpus aggregation to the distinct-score
    # table, then the two-phase prefix (global) or group windows; a
    # third exchange means the prefix degraded to extra shuffles
    "eval_auc": dict(smj_max=0, bnlj_max=0, exchange_max=2,
                     window_min=1, hashagg=2),
    "eval_auc_grouped": dict(smj_max=0, bnlj_max=0, exchange_max=2,
                             window_min=1, hashagg=4, pushed_min=1),
    # r14: chi-square drift — two-phase rank over the reference + one
    # aggregation per table; bucket assignment must stay a scan-side
    # literal-array expression (any join for it would add exchanges)
    "dq_drift_chi2": dict(smj_max=0, bnlj_max=0, exchange_max=3,
                          bhj_min=2, window_min=1, hashagg=4,
                          pushed_min=2),
    # r14: AMS F2 — NO row blowup: the r sign sums are aggregate
    # expressions over one scan (one partial/final pair to a 1-row
    # stats group, the Generate reshapes it), plus the exact-F2 side's
    # own pairs; estimate windows are statistics-sized, joins broadcast
    "sketch_ams_f2": dict(smj_max=0, bnlj_max=0, exchange_max=3,
                          bhj_min=1, window_min=3, hashagg=8,
                          pushed_min=2),
    # r14: interpolation gapfill — same one-shuffle shape as
    # ts_gapfill_locf (checkpointed rollup, broadcast grid join, all
    # windows on the key partitioning)
    "ts_gapfill_interpolate": dict(smj_max=0, bnlj_max=0, exchange_max=1,
                                   bhj_min=1, window_min=1, hashagg=2),
    # r14: chi2 terms — tl/lab_tot are checkpointed (vocab/label-sized),
    # the only BNLJ is the 1-row N crossJoin, top-t is rank-truncated
    "text_chi2_terms": dict(smj_max=0, bnlj_max=1, exchange_max=3,
                            bhj_min=2, window_min=1, hashagg=4),
    # r14: RAKE — vocabulary-keyed word stats + doc-keyed rescore; the
    # word-score join stays broadcast (vocab-sized), top-t truncated
    "text_rake_keywords": dict(smj_max=0, bnlj_max=0, exchange_max=4,
                               bhj_min=1, window_min=1, hashagg=6),
    # r14 batch 2: OLS trend — daily rollup pair + the statistics pair,
    # nothing else (closed-form sums; no windows, no joins)
    "ts_trend_ols": dict(smj_max=0, bnlj_max=0, exchange_max=2,
                         hashagg=4),
    # r15: exact KS — the distinct-value ECDF merge feeds the shared
    # two-phase prefix; extra shuffles mean the prefix degraded
    "dq_ks_test": dict(smj_max=0, bnlj_max=0, exchange_max=2,
                       window_min=1),
    # r15: Benford — one 9-group aggregation pair + the 9-row spine
    # broadcast; the share window is statistics-sized
    "dq_benford": dict(smj_max=0, bnlj_max=0, exchange_max=2, bhj_min=1,
                       hashagg=2, window_min=1, pushed_min=1),
    # r15: Welch t — one stats aggregation pair per side to 1-row
    # results; the BNLJ is their 1x1 crossJoin (lint-allowlisted)
    "stats_welch_ttest": dict(smj_max=0, bnlj_max=1, exchange_max=2,
                              hashagg=4, pushed_min=2),
    # r15: classification report — everything after the first
    # (group, pred, label) aggregation is classes-sized; the one SMJ is
    # the full-outer class-spine join (full outer can't broadcast, and
    # both sides are statistics tables)
    "eval_f1_multiclass": dict(smj_max=1, bnlj_max=0, exchange_max=4,
                               hashagg=8, pushed_min=2),
    # r15: rank metrics — rank <= k must stay rank-TRUNCATED
    # (WindowGroupLimit pairs show as extra Window nodes), cum-hit and
    # dup-guard windows share the query partitioning, one agg pair
    "eval_rank_metrics": dict(smj_max=0, bnlj_max=0, exchange_max=2,
                              window_min=3, hashagg=2),
    # r15: ACF — ONE key window produces all lag leads; the lag sums
    # are aggregate expressions (one pair); Generate reshapes only the
    # statistics row. A third exchange means per-lag re-shuffling.
    "ts_acf": dict(smj_max=0, bnlj_max=0, exchange_max=2, window_min=1,
                   hashagg=4, pushed_min=1),
    # r15: CUSUM — prefix windows share one key shuffle, totals rejoin
    # by broadcast, argmax is an aggregation (never a global sort)
    "ts_cusum": dict(smj_max=0, bnlj_max=0, exchange_max=4,
                     window_min=2, bhj_min=1, pushed_min=2),
    # r15: OHLC — ONE aggregation pair over one scan (struct min/max
    # aggregates sort-based but map-side combinable); no window/join
    "ts_ohlc": dict(smj_max=0, bnlj_max=0, exchange_max=1,
                    pushed_min=1),
    # r15: Hilbert key — pure codegen bitwise walk: ZERO exchanges,
    # zero joins; any node appearing here means the walk left the scan
    "layout_hilbert": dict(smj_max=0, bnlj_max=0, exchange_max=0),
    # r15: CDC apply — ONE winners aggregation pair + the broadcast
    # anti-join; extra shuffles mean the changelog stopped combining
    # map-side or the anti-join de-broadcast
    "inc_cdc_apply": dict(smj_max=0, bnlj_max=0, exchange_max=2,
                          bhj_min=1, pushed_min=2),
    # r15 batch 2: grid-blocked radius join — candidates from 3x3
    # neighbor cells via ONE cell equi-join (broadcast at battery
    # scale, ZERO shuffles); the Generate is the constant 9x offset
    # fanout. Any SMJ/BNLJ here means the blocking degraded to
    # all-pairs.
    "geo_radius_join": dict(smj_max=0, bnlj_max=0, exchange_max=0,
                            bhj_min=1, pushed_min=1),
    # r15 batch 2: seasonal decomposition — the rn/moving-average
    # windows share one key shuffle, phase means one aggregation, the
    # centering windows are phase-table-sized, the join back broadcast
    "ts_decompose": dict(smj_max=0, bnlj_max=0, exchange_max=4,
                         window_min=3, bhj_min=1, pushed_min=1),
    # r15 batch 3: Cohen's kappa — the confusion cells are checkpointed
    # (ONE corpus aggregation; everything after is classes-sized); the
    # SMJ is the statistics-sized full-outer marginal spine, the BNLJ
    # the 1x1 totals crossJoin (lint-allowlisted)
    "eval_cohens_kappa": dict(smj_max=1, bnlj_max=1, exchange_max=4,
                              hashagg=8),
    # r15 batch 3: embedding-centroid drift — one posexplode
    # aggregation per side to d statistics rows; the SMJ is the d-row
    # full-outer dimension join (model-state-sized). (r16: a
    # single-agg rewrite measured SLOWER — see the operator docstring.)
    "dq_embedding_drift": dict(smj_max=1, bnlj_max=0, exchange_max=3,
                               pushed_min=1),
    # r15 batch 4: rolling z-score — the rollup pair + ONE key window
    # shuffle (count + both rolling sums share the trailing frame);
    # scan-side arithmetic after, no join
    "ts_zscore_anomaly": dict(smj_max=0, bnlj_max=0, exchange_max=2,
                              window_min=1, hashagg=2, pushed_min=1),
    # r14 batch 2, reshaped r16: calibration — breakpoints collected as
    # literals (the rank phase is eager), and the final aggregation now
    # reads the rank phase's CHECKPOINTED slice (one corpus scan total,
    # so no parquet scan — hence no pushed-filter pin — appears in the
    # returned plan): one partial/final pair with the bucket expression
    # scan-side over the reified rows
    "eval_calibration": dict(smj_max=0, bnlj_max=0, exchange_max=1,
                             hashagg=2),
    # r14 batch 2: Simpson diversity — (group, category) pair + the
    # group reduction pair; the second agg is vocabulary-sized
    "stats_diversity_simpson": dict(smj_max=0, bnlj_max=0,
                                    exchange_max=2, hashagg=4,
                                    pushed_min=1),
    # r14 batch 2: OOV rate — vocabulary agg pair + per-doc count pair,
    # ONE gram-keyed broadcast join (vocab broadcast at battery scale;
    # a shuffle join at corpus scale is the same two exchanges)
    "text_oov_rate": dict(smj_max=0, bnlj_max=0, exchange_max=2,
                          hashagg=4, bhj_min=1),
    # r14 batch 2: FS linkage — equality blocking + two record joins,
    # ALL broadcast at battery scale, zero shuffles, zero SMJ/BNLJ;
    # the score is scan-side literal-ratio arithmetic
    "link_fellegi_sunter": dict(smj_max=0, bnlj_max=0, exchange_max=0,
                                bhj_min=3, pushed_min=4),
    # r16: Mann-Whitney — the visible plan is post-checkpoint (the
    # shared two-phase prefix materializes the ranked distinct-value
    # table): one prefix window + ONE statistics aggregation pair
    "stats_mannwhitney": dict(smj_max=0, bnlj_max=0, exchange_max=2,
                              window_min=1, hashagg=2),
    # r16: Cramér's V — cells checkpointed (zero parquet scans in the
    # returned plan); marginals re-aggregate the cells, the two level
    # counts are 1-row crossJoins (allowlisted BNLJ, welch pattern)
    "dq_cramers_v": dict(smj_max=0, exchange_max=7, bhj_min=2),
    # r16: MCC — one scan, ONE aggregation pair, nothing else
    "eval_mcc": dict(smj_max=0, bnlj_max=0, exchange_max=1,
                     hashagg=2, pushed_min=1),
    # r16: EWMA — the hourly rollup aggregation pair + ONE key window
    # serving every lag column; a per-lag window re-sort reads here as
    # extra Sort/Window nodes
    "ts_ewma": dict(smj_max=0, bnlj_max=0, exchange_max=2,
                    window_min=1, hashagg=2, pushed_min=1),
}


def _check(nodes, pushed, inv):
    errs = []
    if "bhj_min" in inv and nodes["BroadcastHashJoin"] < inv["bhj_min"]:
        errs.append(f"BroadcastHashJoin {nodes['BroadcastHashJoin']} "
                    f"< {inv['bhj_min']} (dimension join de-broadcasted?)")
    if "smj_max" in inv and nodes["SortMergeJoin"] > inv["smj_max"]:
        errs.append(f"SortMergeJoin {nodes['SortMergeJoin']} "
                    f"> {inv['smj_max']}")
    if "bnlj_max" in inv and \
            nodes["BroadcastNestedLoopJoin"] > inv["bnlj_max"]:
        errs.append(f"BroadcastNestedLoopJoin "
                    f"{nodes['BroadcastNestedLoopJoin']} "
                    f"> {inv['bnlj_max']}")
    if "pushed_min" in inv and pushed < inv["pushed_min"]:
        errs.append(f"non-empty PushedFilters scans {pushed} "
                    f"< {inv['pushed_min']} (pushdown dropped?)")
    if "exchange_max" in inv and nodes["Exchange"] > inv["exchange_max"]:
        errs.append(f"shuffle Exchange {nodes['Exchange']} "
                    f"> {inv['exchange_max']} (stray shuffle added?)")
    if "hashagg" in inv and nodes["HashAggregate"] != inv["hashagg"]:
        errs.append(f"HashAggregate {nodes['HashAggregate']} "
                    f"!= {inv['hashagg']} (partial/final pair broken?)")
    if "window_min" in inv and nodes["Window"] < inv["window_min"]:
        errs.append(f"Window {nodes['Window']} < {inv['window_min']}")
    if nodes["CartesianProduct"]:
        errs.append("CartesianProduct in plan")
    return errs


@pytest.mark.parametrize("name", sorted(INVARIANTS))
def test_plan_invariants(spark, name):
    df = battery.queries()[name](spark, SF_DIR)
    nodes, pushed = _plan_counts(df)
    errs = _check(nodes, pushed, INVARIANTS[name])
    assert not errs, f"{name}: " + "; ".join(errs) + f"\nnodes={dict(nodes)}"


def test_guard_goes_red_when_broadcasts_forced_off(spark):
    """The guard must actually guard: with autoBroadcastJoinThreshold=-1
    (the silent-de-broadcast failure mode the verdict asked to pin), q5's
    dimension chain plans as SortMergeJoins and the invariants trip."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = battery.queries()["q5_region_revenue"](spark, SF_DIR)
        nodes, pushed = _plan_counts(df)
        errs = _check(nodes, pushed, INVARIANTS["q5_region_revenue"])
        assert errs, "guard failed to detect forced de-broadcast"
        assert any("de-broadcasted" in e for e in errs)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


# --- r12: the round-11 EAGER entries (verdict #3) -------------------------
# layout_compaction and the CSV/gzip roundtrips checkpoint their results,
# so the battery DataFrames carry post-execution plans. Their lazy
# CONSTITUENT plans are pinned here instead: the read-back scan + the
# shared roundtrip aggregate (group-by with COUNT DISTINCT = exactly two
# shuffles and the 4-node two-phase aggregate chain; any stray
# repartition/SMJ/cartesian in a future edit shows up as node drift).
_RT_AGG_INV = dict(hashagg=4, exchange_max=2, smj_max=0, bnlj_max=0)


def _roundtrip_agg_plan(spark, back, view):
    from dbt_extrica_spark.queries import _SRC_ROUNDTRIP_AGG

    back.createOrReplaceTempView(view)
    return spark.sql(_SRC_ROUNDTRIP_AGG.format(tbl=view))


def test_roundtrip_scan_plan_invariants(spark, tmp_path):
    from dbt_extrica_spark.queries import _DOCS_DDL, _SRC_FMT_OPTS
    from dbt_extrica_spark.sources.registry import read_table

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    # CSV: quote-all multiLine + null-sentinel options, as the gate reads
    wopts, ropts = _SRC_FMT_OPTS["csv"]
    w = docs.write.mode("overwrite").format("csv")
    for k, v in wopts.items():
        w = w.option(k, v)
    w.save(str(tmp_path / "csv"))
    back = read_table(spark, str(tmp_path / "csv"), format="csv",
                      schema=_DOCS_DDL, **ropts)
    agg = _roundtrip_agg_plan(spark, back, "pi_csv_back")
    nodes, pushed = _plan_counts(agg)
    errs = _check(nodes, pushed, _RT_AGG_INV)
    assert not errs, f"csv roundtrip agg: {errs}\nnodes={dict(nodes)}"

    # gzip JSONL: codec dispatch by extension; gzip is unsplittable so
    # ONE .json.gz file must plan as ONE scan partition (the scale
    # posture the gate documents — throughput comes from many files)
    docs.coalesce(1).write.mode("overwrite").format("json") \
        .option("compression", "gzip").save(str(tmp_path / "jgz"))
    back_gz = read_table(spark, str(tmp_path / "jgz"), format="json",
                         schema=_DOCS_DDL)
    assert back_gz.rdd.getNumPartitions() == 1
    agg_gz = _roundtrip_agg_plan(spark, back_gz, "pi_gz_back")
    nodes, pushed = _plan_counts(agg_gz)
    errs = _check(nodes, pushed, _RT_AGG_INV)
    assert not errs, f"gzip roundtrip agg: {errs}\nnodes={dict(nodes)}"


def test_compaction_reread_plan_invariants(spark, tmp_path):
    from dbt_extrica_spark.extensions import layout

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    path = str(tmp_path / "frag")
    docs.repartition(8).write.parquet(path)
    stats = layout.compact_files(spark, path, target_files=2,
                                 sort_cols=["doc_id"])
    assert stats["files_after"] == 2
    back = spark.read.parquet(path)
    agg = _roundtrip_agg_plan(spark, back, "pi_comp_back")
    nodes, pushed = _plan_counts(agg)
    errs = _check(nodes, pushed, _RT_AGG_INV)
    assert not errs, f"compaction re-read agg: {errs}\nnodes={dict(nodes)}"

    # trip-proof (the r11 meta-test pattern): a stray repartition before
    # the aggregate adds a third Exchange and MUST trip exchange_max —
    # the failure mode this guard exists to catch
    agg_red = _roundtrip_agg_plan(spark, back.repartition(16), "pi_red")
    nodes, pushed = _plan_counts(agg_red)
    errs = _check(nodes, pushed, _RT_AGG_INV)
    assert errs and any("stray shuffle" in e for e in errs), \
        "guard failed to detect a stray pre-aggregate shuffle"
