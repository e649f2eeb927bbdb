"""[EXTENSION] End-to-end training-data cleaning pipeline.

Composes the verified operators into the shape a 100 TB pretraining-data
job takes, all table-in/table-out:

    quality gate -> exact dedup -> near-dup removal -> language filter
    -> token accounting

Every stage is a DataFrame transform over the previous one (one lazy plan;
Catalyst fuses the scans), and every stage's semantics are individually
oracle-verified, so the composition has a full SQL oracle too.

Near-dup rule: among surviving docs, any pair with word-3-gram Jaccard >=
the threshold drops the HIGHER doc_id (pairs are emitted id_a < id_b).
Deliberately not a transitive closure — deterministic, one-pass, and
matches what large dedup pipelines do per-bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..staging import staged
from . import dedup, similarity, textstats


def _over_rows(df: DataFrame, col: str, limit: int | None) -> bool:
    """Bounded size probe — ``limit(n+1).count()`` short-circuits, never a
    full scan — used to flip pipelines from their exact small-corpus routes
    to the sub-quadratic scale routes (mirrors skew.auto_salted_agg)."""
    if limit is None:
        return False
    return df.select(col).limit(limit + 1).count() > limit


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    min_quality: float = 0.55,
    jaccard_threshold: float = 0.2,
    lang: str = "en",
    auto_scale_rows: int | None = 100_000,
) -> DataFrame:
    """Returns (doc_id, est_llm_tokens) for the cleaned corpus.

    Executes as ONE feature pass + one near-dup pair join: quality metrics,
    content fingerprint (exact dedup), language pick, token estimate, AND
    the hashed n-gram array for the near-dup candidate join are all
    row-wise, so they compute in a single projection over one scan and
    persist as a COMPACT feature table (no text; grams as int64 hashes).
    Only the exact confirmation of candidate near-dup pairs re-reads text,
    and only for the docs in passing pairs.

    The exact-dedup stage keys on (md5(text), length(text)) rather than
    text equality — md5 collisions are practically constructible, so the
    length is grouped alongside the digest to force a colliding pair to
    also match in byte length. This is collision-hardened, not
    collision-proof; an adversarial corpus needs the per-stage
    dedup.exact_dedup (full-text compare) instead.

    ``auto_scale_rows``: above this row count the near-dup stage routes to
    the PPJoin prefix-filter path (heavy-hitter-safe at natural-language
    scale; still EXACT — prefix filtering is lossless) instead of the
    one-pass hashed-gram join, and the feature pass skips building the
    hashed-gram cache the one-pass route would have used. None disables
    the probe (always one-pass)."""
    # spread first: a small parquet arrives as one split, and every stage
    # here is per-row compute (regex, shingling) that must parallelize
    base = dedup._spread(docs.select(F.col(id_col).alias("doc_id"),
                                     F.col(text_col).alias("text")))
    big = _over_rows(docs, id_col, auto_scale_rows)

    st = textstats.stat_exprs("text")
    lang_pick, _hits = textstats.lang_exprs("text")
    tok = textstats.token_exprs("text")
    # the hashed n-gram array for the near-dup stage is computed HERE, in
    # the same scan as every other per-doc feature: stage 3's candidate
    # join then runs off this compact cache (int64 arrays) instead of
    # re-reading parquet and re-shingling the surviving docs (measured
    # ~1.5s of the pipeline at sf0.1). Skipped on the prefix-filter route,
    # which shingles inside ngram_jaccard_pairs.
    feat_cols = [
        F.col("doc_id"),
        st["quality_score"].alias("quality_score"),
        st["n_tokens"].alias("n_tokens"),
        F.md5(F.col("text").cast("string")).alias("__fp"),
        F.length("text").alias("__len"),
        lang_pick.alias("lang_pred"),
        tok["est_llm_tokens"].alias("est_llm_tokens"),
    ]
    if not big:
        # tokens staged first: word_ngrams' split would otherwise re-run
        # inside the per-gram lambda (HOFs evaluate the body per element)
        base = base.withColumn("__toks",
                               dedup._tokens_col("text"))
        feat_cols.append(
            F.transform(dedup.word_ngrams_from_tokens("__toks", 3),
                        lambda x: F.xxhash64(x)).alias("__gh"))
    with staged() as st:
        feats = st.cache(base.select(*feat_cols))

        # 1. quality gate
        kept = feats.where(
            (F.col("quality_score") >= min_quality)
            & (F.col("n_tokens") >= min_tokens)
        )

        # 2. exact dedup (keep min doc_id per (digest, length) group)
        keepers = (kept.groupBy("__fp", "__len")
                   .agg(F.min("doc_id").alias("doc_id")))
        kept = kept.join(keepers, on=["__fp", "__len", "doc_id"],
                         how="left_semi")

        # 3. near-dup removal (exact n-gram Jaccard; drop the higher id) — the
        # candidate join reuses the hashed gram arrays from the feature pass
        # (no re-scan/re-shingle); only the exact confirmation of passing
        # pairs re-reads text, and only for those few docs
        if big:
            surv_docs = base.join(kept.select("doc_id"), on="doc_id",
                                  how="left_semi")
            pairs = st.hold(dedup.ngram_jaccard_pairs(
                surv_docs, "doc_id", "text", n=3, threshold=jaccard_threshold,
                prefix_filter=True))
        else:
            surv_grams = kept.select(
                F.col("doc_id").alias("id"), F.size("__gh").alias("n_g"),
                F.col("__gh").alias("gh"))
            # the confirm-stage collapse (r11 watch item, trigger fired r14):
            # candidates come ONLY from hashed_grams (the survivors), so the
            # df side exists purely to re-read the passing docs' text — feed
            # it the RAW table, not the survivor semi-join: per-doc grams are
            # doc-local, so the result is identical (A/B-verified), but the
            # confirm's broadcast-filtered re-scan stops re-executing the
            # whole quality/exact-dedup lineage (measured 4.5-4.8s -> 2.6-2.7s
            # for the pair stage at sf0.1)
            raw = docs.select(F.col(id_col).alias("doc_id"),
                              F.col(text_col).alias("text"))
            pairs = st.hold(dedup.ngram_jaccard_pairs(
                raw, "doc_id", "text", n=3, threshold=jaccard_threshold,
                hashed_grams=surv_grams))
        to_drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        kept = kept.join(to_drop, on="doc_id", how="left_anti")

        # 4. language filter + 5. token accounting (already in the feature
        # pass)
        # materialize the compact result eagerly so the feature table and the
        # pair set can be released here — repeated pipeline runs in one
        # session must not accumulate cached blocks
        return (
            kept.where(F.col("lang_pred") == lang)
            .select("doc_id", "est_llm_tokens")
            .localCheckpoint(eager=True)
        )


def joint_dedup(
    docs: DataFrame,
    embeddings: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    jaccard_threshold: float = 0.5,
    cosine_threshold: float = 0.35,
    ngram_n: int = 3,
    auto_scale_rows: int | None = 100_000,
    blocked_n_cells: int | None = None,
    blocked_nprobe: int = 4,
) -> DataFrame:
    """Text near-dup ∪ embedding near-dup, clustered jointly — the two
    modalities catch different duplicates (verbatim/boilerplate overlap vs
    paraphrase), so a training-data pipeline unions their pair graphs
    before picking survivors.

    Returns (doc_id, component, keep): ``component`` = min reachable id
    through the combined pair graph, ``keep`` = this doc is its component's
    canonical (minimum-id) representative.

    Scale routing (bounded size probes, no full scans): above
    ``auto_scale_rows`` rows the text side switches to the PPJoin
    prefix-filter path (lossless — identical pairs, heavy-hitter-safe)
    and the embedding side to cell-blocked cosine pairs. Blocked join
    mass is ~n²·nprobe²/n_cells, so sub-quadratic behavior REQUIRES the
    cell count to grow with the corpus: ``blocked_n_cells=None`` (default)
    derives n_cells ≈ √n (one count of the already-over-threshold input),
    giving ~n^1.5·nprobe² mass; pass an explicit value to pin it (e.g. a
    measured-lossless config for equivalence testing). Emitted cosines
    are bit-identical to brute force either way; recall at partial probe
    is corpus-dependent — re-measure per corpus. Below the threshold both
    sides run the exact all-pairs operators, so the oracle entry stays
    exact. None disables the probes (always exact — subject to
    embedding_cosine_pairs' quadratic guardrail).
    """
    # heavy-bucket guard for the text side (joint_dedup has no exact-dedup
    # pre-stage, so m byte-identical copies would otherwise put m gram
    # rows in every shared bucket and the candidate join emits m²/2 rows):
    # collapse to one representative per text-identity group, run the
    # n-gram join over representatives only, and expand as LINEAR edges
    # (rep pairs + member->rep links) — components over those edges equal
    # components over the full member-level pair set (equal texts mean
    # equal gram sets, so every member inherits its rep's pair structure).
    # null_group=True matches the gram join's actual NULL semantics: the
    # n-gram floor gives NULL text the gram set [NULL], so NULL copies
    # pair at J=1 in the uncollapsed join — collapsing them to one rep
    # linked by member edges lands in the same component (verified by the
    # planted-NULL equivalence test).
    with staged() as st:
        mapping = st.cache(dedup.text_identity_groups(
            docs, doc_id_col, text_col, null_group=True))
        reps = docs.join(
            mapping.where(F.col("id") == F.col("rep"))
            .select(F.col("id").alias(doc_id_col)),
            on=doc_id_col, how="left_semi")
        if _over_rows(reps, doc_id_col, auto_scale_rows):
            rep_text_pairs = st.hold(dedup.ngram_jaccard_pairs(
                reps, doc_id_col, text_col, n=ngram_n,
                threshold=jaccard_threshold, prefix_filter=True
            )).select("id_a", "id_b")
        else:
            rep_text_pairs = st.hold(dedup.ngram_jaccard_pairs(
                reps, doc_id_col, text_col, n=ngram_n,
                threshold=jaccard_threshold
            )).select("id_a", "id_b")
        text_pairs = dedup.group_pairs_to_edges(rep_text_pairs, mapping)
        if blocked_n_cells is None and auto_scale_rows is not None:
            # one pruned count serves BOTH the routing decision and the √n
            # cell derivation — not a bounded probe plus a second full scan
            import math

            n_vecs = embeddings.select(vec_id_col).count()
            big_emb = n_vecs > auto_scale_rows
            n_cells = max(16, math.isqrt(n_vecs))
        else:
            big_emb = _over_rows(embeddings, vec_id_col, auto_scale_rows)
            n_cells = blocked_n_cells
        if big_emb:
            emb_pairs = similarity.cell_blocked_cosine_pairs(
                embeddings, vec_id_col, vec_col, threshold=cosine_threshold,
                n_cells=n_cells, nprobe=blocked_nprobe
            ).select("id_a", "id_b")
        else:
            emb_pairs = dedup.embedding_cosine_pairs(
                embeddings, vec_id_col, vec_col, threshold=cosine_threshold
            ).select("id_a", "id_b")
        # no .distinct() here: connected_components dedupes edges itself in
        # the distributed path and the union-find fast path is insensitive to
        # duplicate pairs — a distinct at this level is one full pair shuffle
        # for nothing
        pairs = text_pairs.unionByName(emb_pairs)
        # connected_components materializes the pair set eagerly, so the
        # mapping cache and the text pair set are consumed here; safe to
        # release after
        comp = dedup.connected_components(pairs)
    base = docs.select(F.col(doc_id_col).alias("doc_id"))
    return (
        base.join(comp.withColumnRenamed("id", "doc_id"), on="doc_id",
                  how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
        .withColumn("keep", F.col("component") == F.col("doc_id"))
    )


def pretrain_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    target_source: str = "src0",
    min_words_per_line: int = 5,
    min_kept_lines: int = 1,
    gopher_min_words: int = 20,
    dsir_k: int = 64,
    dsir_cutoff: float = 0.0,
    seq_len: int = 512,
) -> DataFrame:
    """The full pretraining-data curation chain, end to end in-engine:

        C4 line/page gate -> Gopher rule gate -> exact dedup
        -> DSIR target-likeness threshold -> global sequence packing

    i.e. the published-heuristic filters, then dedup, then data SELECTION,
    then the tokenize-and-pack bookkeeping — each stage an already
    oracle-verified operator, composed table-in/table-out so the whole
    chain replays exactly (every stage is integer/decimal-exact; the
    battery oracle recomputes the entire chain in pure Python).

    Scale: the two gates fuse into scan-side projections; dedup is one
    hash-group; DSIR is two k-row count jobs + one scan; packing is the
    two-phase prefix sum — no single-task stage anywhere. Returns
    (id, log_weight, n_tokens, offset, first_seq, last_seq) for the
    surviving corpus in stable id order."""
    from . import cleaning, dedup, selection, textstats

    gated = (
        cleaning.c4_filter(docs, id_col, text_col,
                           min_words_per_line=min_words_per_line,
                           min_kept_lines=min_kept_lines,
                           keep_cols=(source_col,))
        .where("keep_page")
        .select(id_col, source_col, "clean_text")
    )
    quality = (
        textstats.gopher_rules(gated, id_col, "clean_text",
                               min_words=gopher_min_words,
                               keep_cols=(source_col, "clean_text"))
        .where("passes_gopher")
        .select(id_col, source_col, "clean_text")
        # exact_dedup scans its input twice (keepers aggregation + the
        # semi-join probe side); staged once, the C4+Gopher string gates
        # run once instead of twice per document
        .localCheckpoint(eager=False)
    )
    # reify the cleaned, deduped corpus ONCE: DSIR reads it three times
    # (two count jobs + scoring) and packing twice more — without this,
    # every pass re-runs both gates and the dedup shuffle (measured 2x
    # end-to-end). At 100 TB this materialization is the natural
    # intermediate table between cleaning and model-based selection.
    deduped = (dedup.exact_dedup(quality, id_col, ["clean_text"])
               .localCheckpoint(eager=False))
    # ONE tagged count job learns both DSIR models (the target corpus is
    # a row-filter of the deduped corpus), and the weight is attached as
    # a COLUMN on the corpus itself — the former (id -> weight) join and
    # the final packed-to-weights join were both pure attach-joins whose
    # shuffles carried nothing the corpus didn't already have. The weight
    # now rides the packer's own range shuffle via keep_cols.
    lrs = selection.dsir_logratios_within(
        deduped, F.col(source_col) == F.lit(target_source),
        "clean_text", k=dsir_k)
    # stage the tiny scored table (id, weight, token count) ONCE: the
    # packer's range partitioner samples its input before shuffling it,
    # so an unstaged pipeline would pay the DSIR fold and the tokenizer
    # twice per row
    scored = (
        deduped.select(
            F.col(id_col),
            selection.dsir_score_col(lrs, "clean_text", k=dsir_k)
            .alias("log_weight"),
            cleaning._pack_tokens("clean_text").alias("__n_tok"))
        .where(F.col("log_weight") >= float(dsir_cutoff))
        .localCheckpoint(eager=False)
    )
    packed = cleaning.pack_documents_global(
        scored, id_col, None, seq_len=seq_len,
        keep_cols=("log_weight",), tokens_col="__n_tok")
    return packed.select(id_col, "log_weight", "n_tokens", "offset",
                         "first_seq", "last_seq")
