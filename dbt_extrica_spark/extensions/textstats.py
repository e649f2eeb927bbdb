"""[EXTENSION] Text analysis for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

Everything is built-in pyspark.sql.functions (codegen, no UDFs). The regex
patterns are restricted to constructs with identical semantics in Java regex
(Spark) and RE2-ish engines (oracles) — character classes and quantifiers
only, no lookarounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..staging import staged

# small deterministic stopword lists for the n-gram/stopword language
# heuristic; extend freely (order = tie-break preference)
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "des", "est", "dans", "que", "pour", "une"),
    "es": ("el", "la", "los", "de", "que", "es", "en", "por", "para", "una"),
}


def _tokens(text_col: str) -> str:
    return f"split(trim(lower({text_col})), '\\\\s+')"


def stat_exprs(text_col: str) -> dict[str, F.Column]:
    """The quality-metric expressions as composable (unaliased) Columns —
    shared by :func:`text_stats` and the single-pass pipeline projection."""
    toks = _tokens(text_col)
    n_tokens = F.expr(f"size({toks})")
    n_chars = F.length(F.col(text_col))
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    digit_chars = F.length(F.regexp_replace(F.col(text_col), "[^0-9]", ""))
    punct_chars = F.length(
        F.regexp_replace(F.col(text_col), "[^.,;:!?'\"()-]", "")
    )
    upper_chars = F.length(F.regexp_replace(F.col(text_col), "[^A-Z]", ""))
    uniq_tokens = F.expr(f"size(array_distinct({toks}))")
    alpha_ratio = (alpha_chars / n_chars).cast("double")
    digit_ratio = (digit_chars / n_chars).cast("double")
    punct_ratio = (punct_chars / n_chars).cast("double")
    distinct_token_ratio = (uniq_tokens / n_tokens).cast("double")
    quality = (
        F.least(n_tokens / 100.0, F.lit(1.0)) * 0.3
        + alpha_ratio * 0.3
        + (1 - digit_ratio) * 0.1
        + F.least(punct_ratio * 10, F.lit(1.0)) * 0.1
        + distinct_token_ratio * 0.2
    )
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "avg_token_len": (n_chars / n_tokens).cast("double"),
        "alpha_ratio": alpha_ratio,
        "digit_ratio": digit_ratio,
        "punct_ratio": punct_ratio,
        "upper_ratio": (upper_chars / n_chars).cast("double"),
        "distinct_token_ratio": distinct_token_ratio,
        "quality_score": quality.cast("double"),
    }


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality metrics: token/char counts, word length, ratio
    features, and a composite quality score in [0,1]."""
    ex = stat_exprs(text_col)
    return df.select(
        F.col(id_col), *[c.alias(name) for name, c in ex.items()]
    )


def lang_exprs(text_col: str) -> tuple[F.Column, F.Column]:
    """(lang_pred, stopword_hits) as composable Columns (inline score
    subexpressions — Catalyst CSE dedups the token split)."""
    toks = _tokens(text_col)
    scores: dict[str, F.Column] = {}
    for lang, words in STOPWORDS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        scores[lang] = F.expr(
            f"size(filter({toks}, t -> array_contains(array({arr}), t)))"
        )
    best = F.greatest(*scores.values())
    pick = F.when(best <= 0, F.lit("und"))
    for lang, sc in scores.items():
        pick = pick.when(sc == best, F.lit(lang))
    return pick, best


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-hit language heuristic: per language, count tokens that are
    stopwords of that language; argmax wins ('und' = undetermined when no
    hits). Deterministic tie-break by language-list order."""
    pick, best = lang_exprs(text_col)
    return df.select(
        F.col(id_col),
        pick.alias("lang_pred"),
        best.alias("stopword_hits"),
    )


def token_exprs(text_col: str) -> dict[str, F.Column]:
    ws = F.expr(f"size({_tokens(text_col)})")
    bpe_ish = F.expr(
        f"size(regexp_extract_all({text_col},"
        r" '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0))"
    )
    return {
        "ws_tokens": ws,
        "bpe_ish_tokens": bpe_ish,
        "est_llm_tokens": F.ceil(ws * 4 / 3).cast("bigint"),
    }


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish sub-word
    proxy (runs of letters, runs of digits, and single punctuation marks each
    count as one token — approximates byte-pair tokenizers within ~15%)."""
    ex = token_exprs(text_col)
    return df.select(
        F.col(id_col), *[c.alias(name) for name, c in ex.items()]
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition metrics (duplicate-line fraction, duplicate
    word bigram/trigram fractions — the Gopher table-A1-family repetition
    filters). One scan, no shuffle; the token array stages first (the
    gram lambdas would otherwise re-run the split once per gram), then
    the line/gram arrays stage so each computes once per row, not once
    per referencing output column (no CSE across lambda expressions)."""
    lines = (f"filter(transform(split({text_col}, '\\n'), x -> trim(x)),"
             f" x -> x <> '')")

    def grams(n: int) -> str:
        return (f"transform(sequence(1, greatest(size(__toks) - {n} + 1,"
                f" 1)), i -> array_join(slice(__toks, i, {n}), ' '))")

    staged = (
        df.select(F.col(id_col), F.col(text_col),
                  F.expr(_tokens(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            F.expr(lines).alias("__lines"),
            F.expr(grams(2)).alias("__g2"),
            F.expr(grams(3)).alias("__g3"),
        )
    )

    def frac(col: str) -> F.Column:
        total = F.expr(f"size({col})")
        return ((total - F.expr(f"size(array_distinct({col}))"))
                / F.greatest(total, F.lit(1))).cast("double")

    return staged.select(
        F.col(id_col),
        F.expr("size(__lines)").cast("int").alias("n_lines"),
        frac("__lines").alias("dup_line_frac"),
        ((F.expr("size(__g2)") - F.expr("size(array_distinct(__g2))"))
         / F.expr("size(__g2)")).cast("double").alias("dup_bigram_frac"),
        ((F.expr("size(__g3)") - F.expr("size(array_distinct(__g3))"))
         / F.expr("size(__g3)")).cast("double").alias("dup_trigram_frac"),
    )


# the Gopher rule-filter stopword list (Rae et al. 2021, table A1 rules)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df: DataFrame, id_col: str, text_col: str,
                 min_words: int = 50, max_words: int = 100_000,
                 keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """The Gopher quality rule filter (Rae et al. 2021 §A1.1) — the
    standard published heuristic gate for pretraining corpora: word-count
    band, mean word length 3-10, symbol-to-word ratio (# and ...) < 0.1,
    <=90% of lines bullet-started, <=30% of lines ellipsis-ended, >=80%
    of words containing an alphabetic character, and >=2 of the 8 required
    stopwords present.

    Every threshold is evaluated by integer CROSS-MULTIPLICATION
    (``10 * n_symbols < n_words`` instead of ``n_symbols / n_words <
    0.1``) so the comparison is exact integer arithmetic — bit-identical
    across engines, no float-division drift at any corpus size. One scan,
    no shuffle; the token/line arrays are STAGED into a first projection
    (Catalyst does no CSE across lambda expressions, and CollapseProject
    keeps non-cheap multiply-referenced aliases in their own projection)
    so each array computes once per row, not once per count column.

    Returns per doc: the raw counts, one boolean per rule, and
    ``passes_gopher`` (AND of all rules) — counts kept so downstream can
    re-threshold without a second scan."""
    t = f"coalesce({text_col}, '')"
    toks = _tokens(t)  # NULL text counts as empty, not NULL-propagating
    lines = (f"filter(transform(split({t}, '\\\\n'), l -> trim(l)),"
             f" l -> l <> '')")
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.expr(f"filter({toks}, x -> x <> '')").alias("__toks"),
        F.expr(lines).alias("__lines"),
        (F.length(F.expr(t))
         - F.length(F.expr(f"replace({t}, '#', '')"))).cast("bigint")
        .alias("__n_hash"),
        ((F.length(F.expr(t))
          - F.length(F.expr(f"replace({t}, '...', '')"))) / 3)
        .cast("bigint").alias("__n_ellipsis"),
    )
    stop_arr = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    counts = {
        "n_words": F.expr("size(__toks)").cast("bigint"),
        "n_word_chars": F.expr(
            "aggregate(__toks, 0L, (a, x) -> a + length(x))")
        .cast("bigint"),
        "n_symbols": (F.col("__n_hash") + F.col("__n_ellipsis"))
        .cast("bigint"),
        "n_lines": F.expr("size(__lines)").cast("bigint"),
        "n_bullet_lines": F.expr(
            "size(filter(__lines, l -> substring(l, 1, 1) IN"
            " ('-', '*', '•', '●')))").cast("bigint"),
        # LIKE, not negative-index substring: '%...' has identical
        # semantics in Spark and the oracle engines for short strings
        "n_ellipsis_lines": F.expr(
            "size(filter(__lines, l -> l LIKE '%...' OR l LIKE '%…'))"
        ).cast("bigint"),
        "n_alpha_words": F.expr(
            "size(filter(__toks, x -> x rlike '[a-z]'))").cast("bigint"),
        "n_stopwords": F.expr(
            f"size(array_intersect(array_distinct(__toks),"
            f" array({stop_arr})))").cast("bigint"),
    }
    out = staged.select(F.col(id_col),
                        *[F.col(c) for c in keep_cols],
                        *[c.alias(k) for k, c in counts.items()])
    rules = {
        "r_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "r_mean_word_len": (3 * F.col("n_words") <= F.col("n_word_chars"))
        & (F.col("n_word_chars") <= 10 * F.col("n_words")),
        "r_symbol_ratio": 10 * F.col("n_symbols") < F.col("n_words"),
        "r_bullet_lines": 10 * F.col("n_bullet_lines")
        <= 9 * F.col("n_lines"),
        "r_ellipsis_lines": 10 * F.col("n_ellipsis_lines")
        <= 3 * F.col("n_lines"),
        "r_alpha_words": 5 * F.col("n_alpha_words") >= 4 * F.col("n_words"),
        "r_stopwords": F.col("n_stopwords") >= 2,
    }
    for name, cond in rules.items():
        out = out.withColumn(name, cond)
    passes = None
    for name in rules:
        passes = F.col(name) if passes is None else passes & F.col(name)
    return out.withColumn("passes_gopher", passes)


def char_bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Perplexity-family quality score: average negative log P(c2|c1) under
    a char-bigram model trained on the corpus itself. High scores = strings
    unlike the corpus (mojibake, binary junk, boilerplate soup) — the
    classic pretraining-data perplexity filter, self-trained so it needs no
    external model.

    Two aggregations (bigram counts, prefix counts) + one broadcastable
    probability join; per-log values route through DECIMAL before summing
    so the result is order-independent. Returns (doc_id, n_bigrams,
    avg_neg_logp)."""
    bigrams = (
        f"transform(sequence(1, greatest(length({text_col}) - 1, 1)),"
        f" i -> substring({text_col}, i, 2))"
    )
    exploded = df.select(
        F.col(id_col),
        F.explode(F.expr(bigrams)).alias("bg"),
    ).where(F.length("bg") == 2)
    counts = exploded.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    prefix = (
        exploded.select(F.substring("bg", 1, 1).alias("c1"))
        .groupBy("c1").agg(F.count(F.lit(1)).alias("c_c1"))
    )
    probs = counts.withColumn("c1", F.substring("bg", 1, 1)).join(
        F.broadcast(prefix), on="c1"
    ).select(
        "bg",
        (-F.log(F.col("c_bg") / F.col("c_c1"))).alias("neg_logp"),
    )
    return (
        exploded.join(F.broadcast(probs), on="bg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            (F.sum(F.col("neg_logp").cast("decimal(28,12)"))
             .cast("double") / F.count(F.lit(1))).alias("avg_neg_logp"),
        )
    )


def top_phrases(df: DataFrame, id_col: str, text_col: str,
                n: int = 5, top_k: int = 20,
                min_docs: int = 2) -> DataFrame:
    """Exact corpus-wide top-k repeated word ``n``-grams — the
    boilerplate-DISCOVERY step ahead of remove_boilerplate_lines /
    decontaminate / remove_duplicated_spans: rank phrases by total
    occurrence count (overlapping occurrences each count), keeping
    phrases carried by >= ``min_docs`` distinct documents. Returns
    (phrase, n_occurrences, df_docs) ordered by count DESC, phrase ASC.

    One positional-gram explode (tokens staged — HOF lambda bodies
    evaluate per element), one gram-keyed partial/final aggregation, and
    a TakeOrdered top-k — no all-pairs stage, no driver data."""
    toks = "__toks"
    # no greatest(...,1) floor here: the size >= n guard below already
    # ensures the sequence is non-empty, and a floor would emit truncated
    # sub-n-gram phrases if the guard were ever dropped
    grams = (f"transform(sequence(1, size({toks}) - {n} + 1),"
             f" i -> array_join(slice({toks}, i, {n}), ' '))")
    base = (
        df.select(F.col(id_col).alias("__id"),
                  F.expr(_tokens(text_col)).alias("__toks"))
        .where(F.size("__toks") >= n)  # short docs carry no full gram
        .select("__id", F.explode(F.expr(grams)).alias("phrase"))
    )
    return (
        base.groupBy("phrase")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
             F.countDistinct("__id").cast("bigint").alias("df_docs"))
        .where(F.col("df_docs") >= min_docs)
        .orderBy(F.desc("n_occurrences"), F.asc("phrase"))
        .limit(top_k)
    )


def collocations(df: DataFrame, text_col: str,
                 min_count: int = 5, top_k: int = 50) -> DataFrame:
    """Corpus-wide collocation mining: top-``top_k`` adjacent word pairs
    by pointwise-mutual-information LIFT ``p(xy) / (p(x) p(y)) =
    c_xy * N / (c_x * c_y)`` — the association measure that surfaces
    multiword expressions ("new york", "machine learning") which plain
    count ranking (top_phrases) buries under frequent-word pairs. The
    word2vec phrase-learning / NLTK collocation step of a corpus pass.

    Ranking uses the RATIO, not log-PMI: the lift is two exact-double
    products and one correctly-rounded IEEE division, bit-identical on
    any engine, whereas ln() differs in the last ulp across libm
    implementations (same determinism policy as tfidf's rank column).

    Returns (w1, w2, pair_n, w1_n, w2_n, lift, rank) ordered by
    (lift DESC, w1, w2), pairs with ``pair_n >= min_count`` only.

    Scale shape: bigrams are built SCAN-SIDE (zip_with over two array
    slices — no positional self-join), then one pair-keyed and one
    word-keyed partial/final aggregation; the unigram joins hit the
    (vocabulary-sized) count table, and the top-k is a
    TakeOrderedAndProject. No all-pairs stage, no driver data."""
    toks = (f"filter({_tokens(text_col)}, x -> x <> '')")
    bigrams = ("zip_with(slice(__t, 1, greatest(size(__t) - 1, 0)), "
               "slice(__t, 2, greatest(size(__t) - 1, 0)), "
               "(a, b) -> struct(a, b))")
    staged = df.select(F.expr(toks).alias("__t"))
    # the unigram count table is referenced three times below (both
    # join sides + the total) — checkpoint the vocabulary-sized result
    # so the corpus is scanned once for unigrams and once for bigrams,
    # not once per reference (a lazy plan re-derives the subtree 3x)
    uni = (staged.select(F.explode("__t").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
           .localCheckpoint(eager=True))
    n_tokens = uni.agg(F.sum("c").cast("bigint").alias("n"))
    pairs = (staged.select(F.explode(F.expr(bigrams)).alias("__bg"))
             .select(F.col("__bg.a").alias("w1"), F.col("__bg.b").alias("w2"))
             .groupBy("w1", "w2")
             .agg(F.count(F.lit(1)).cast("bigint").alias("pair_n"))
             .where(F.col("pair_n") >= min_count))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("w1_n"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("w2_n"))
    lift = ((F.col("pair_n").cast("double") * F.col("n").cast("double"))
            / (F.col("w1_n").cast("double") * F.col("w2_n").cast("double")))
    scored = (pairs.join(u1, "w1").join(u2, "w2")
              .crossJoin(n_tokens)  # 1-row stats side
              .select("w1", "w2", "pair_n", "w1_n", "w2_n",
                      lift.alias("lift"))
              .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
              .limit(top_k))
    from pyspark.sql.window import Window
    wnd = Window.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
    return scored.withColumn(
        "rank", F.row_number().over(wnd).cast("int"))


def wordlm_logprob(df: DataFrame, id_col: str, text_col: str,
                   train_df: DataFrame | None = None,
                   k_smooth: float = 1.0) -> DataFrame:
    """Word-bigram LM cross-entropy per document — the CCNet-style
    perplexity filter (Wenzek et al. 2020 score web pages under an LM
    trained on a TARGET domain and keep the likely ones): train add-k
    smoothed bigram counts on ``train_df`` (a curated reference slice;
    defaults to the corpus itself), score every document's average
    negative log P(w2|w1). Low = target-like, high = junk/off-domain —
    the likelihood-based sibling of DSIR's importance weights.

    Smoothing handles OOV exactly: P(w2|w1) = (c(w1,w2) + k) /
    (c(w1) + k·(V+1)) with V = training vocabulary size; an unseen w1
    scores k/(k·(V+1)) = 1/(V+1) per token. All counts are exact
    integers; per-token logs route through DECIMAL(28,12) before the
    order-independent sum (the char_bigram_logprob treatment). Returns
    (id, n_bigrams, avg_neg_logp) — perplexity is exp(avg_neg_logp),
    left to the caller (exp is the cross-engine hazard).

    Scale: one bigram-explode shuffle over each side (the TF-IDF shape),
    count aggregations partial/final on word keys, one join of corpus
    bigrams against the (vocab-bigram-sized) count table — no driver
    data beyond the single vocabulary-size scalar."""
    train = train_df if train_df is not None else df
    toks = "__toks"

    def bigrams(src: DataFrame) -> DataFrame:
        pairs = (f"zip_with(slice({toks}, 1, size({toks}) - 1),"
                 f" slice({toks}, 2, size({toks}) - 1),"
                 f" (a, b) -> struct(a AS w1, b AS w2))")
        return (
            src.select(F.col(id_col),
                       F.expr(f"filter({_tokens(text_col)}, x -> x <> '')")
                       .alias("__toks"))
            # empty/one-token docs carry no bigram — and slice with
            # length size-1 = -1 on an EMPTY array is a runtime error,
            # so the guard is load-bearing, not just semantic
            .where(F.size("__toks") >= 2)
            .select(F.col(id_col), F.explode(F.expr(pairs)).alias("p"))
            .select(F.col(id_col), F.col("p.w1").alias("w1"),
                    F.col("p.w2").alias("w2"))
        )

    c_bg = (bigrams(train).groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("c_bg")))
    # prefix counts derive from the already-reduced (vocabulary-sized)
    # bigram table — not a second corpus-wide explode+shuffle
    c_w1 = c_bg.groupBy("w1").agg(F.sum("c_bg").alias("c_w1"))
    vocab = (
        train.select(F.explode(
            F.expr(f"filter({_tokens(text_col)}, x -> x <> '')"))
            .alias("w")).distinct().count()
    )
    k = float(k_smooth)
    scored = (
        bigrams(df)
        .join(c_bg, on=["w1", "w2"], how="left")
        .join(c_w1, on="w1", how="left")
        .withColumn("neg_logp", -F.log(
            (F.coalesce("c_bg", F.lit(0)) + F.lit(k))
            / (F.coalesce("c_w1", F.lit(0)) + F.lit(k * (vocab + 1)))))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        (F.sum(F.col("neg_logp").cast("decimal(28,12)"))
         .cast("double") / F.count(F.lit(1))).alias("avg_neg_logp"),
    )


def chunk_text(df: DataFrame, id_col: str, text_col: str,
               chunk_tokens: int = 128, overlap_tokens: int = 16) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window stage of a pretraining tokenize pipeline. Returns
    (doc_id, chunk_idx, n_chunk_tokens, chunk_text) with chunk starts every
    ``chunk_tokens - overlap_tokens`` tokens; the last chunk may be short
    but is never empty, and a doc shorter than one chunk yields exactly one
    chunk.

    Pure higher-order functions over the token array (split once, slice per
    chunk) — one scan, no shuffle, no Python; at 100 TB this pipelines
    inside the same stage as the parquet read."""
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    # stage the token split: expressions inside a lambda body are
    # evaluated per element, so an inlined split would re-run per chunk
    toks = "__toks"
    # number of chunks c = 1 + ceil(max(n_tok - chunk, 0) / stride)
    n_chunks = (
        f"1 + CAST(ceil(greatest(size({toks}) - {chunk_tokens}, 0)"
        f" / {stride}.0) AS INT)"
    )
    chunks = (
        f"transform(sequence(0, {n_chunks} - 1),"
        f" i -> named_struct("
        f"'chunk_idx', i,"
        f"'n_chunk_tokens', size(slice({toks}, i * {stride} + 1, {chunk_tokens})),"
        f"'chunk_text', array_join(slice({toks}, i * {stride} + 1, {chunk_tokens}), ' ')))"
    )
    return (
        df.select(F.col(id_col),
                  F.expr(_tokens(text_col)).alias("__toks"))
        .select(F.col(id_col), F.explode(F.expr(chunks)).alias("c"))
        .select(
            F.col(id_col),
            F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
            F.col("c.n_chunk_tokens").cast("int").alias("n_chunk_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


def winnow(df: DataFrame, id_col: str, text_col: str, n: int = 3,
           window: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken style): hash every
    word n-gram IN ORDER, slide a ``window``-wide frame, keep each frame's
    minimum hash, dedupe. Guarantees any shared run of ~window+n-1 tokens
    between two documents shares a fingerprint.

    Output: (doc_id, fp) exploded — join on fp to find overlap candidates.
    Pure higher-order functions; one scan, shuffle only if the caller joins.
    """
    # tokens staged first (two references keep the stage from collapsing):
    # the gram lambda would otherwise re-run the split once per gram
    grams = (
        f"transform(sequence(1, greatest(size(__toks) - {n} + 1, 1)),"
        f" i -> array_join(slice(__toks, i, {n}), ' '))"
    )
    hashes = f"transform({grams}, g -> md5(g))"
    mins = (
        f"array_distinct(transform(sequence(1, size(__h) - {window} + 1),"
        f" i -> array_min(slice(__h, i, {window}))))"
    )
    return (
        df.select(F.col(id_col), F.expr(_tokens(text_col)).alias("__toks"))
        .select(F.col(id_col), F.expr(hashes).alias("__h"))
        .where(F.size("__h") >= window)
        .select(F.col(id_col), F.explode(F.expr(mins)).alias("fp"))
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum md5 over word
    n-grams (a deterministic 1-of-N sample of the rolling-hash family), plus
    the n-gram cardinality. Documents sharing a fingerprint are near-dup
    candidates."""
    grams = (
        f"transform(sequence(1, greatest(size(__toks) - {n} + 1, 1)),"
        f" i -> array_join(slice(__toks, i, {n}), ' '))"
    )
    return (
        df.select(F.col(id_col), F.expr(_tokens(text_col)).alias("__toks"))
        .select(F.col(id_col), F.expr(grams).alias("__g"))
        .select(
            F.col(id_col),
            F.expr("array_min(transform(__g, g -> md5(g)))")
            .alias("fingerprint"),
            F.expr("size(array_distinct(__g))").alias("n_grams"),
        )
    )


# --------------------------------------------------------------------------
# TF-IDF / BM25 relevance scoring
# --------------------------------------------------------------------------

def tfidf_terms(df: DataFrame, id_col: str, text_col: str,
                top_t: int = 5, max_df_frac: float | None = None,
                stopwords: list[str] | None = None,
                min_df: int | None = None) -> DataFrame:
    """Top ``top_t`` characteristic terms per document by TF-IDF
    (tf * ln(N / df)) — the classic keyword/topic signal a corpus curator
    uses to label or route documents.

    Scale shape: one scan tokenizes; term frequencies shuffle once on
    (doc, term); document frequencies reduce off the SAME exploded rows
    (term key, vocabulary-sized — small); the corpus size joins in as a
    1-row broadcast aggregate (the queries.py:1874 crossJoin-count idiom);
    final per-doc top-t is one window. No Python, no collect.
    Returns (doc_id, term, tf, df, tfidf).

    ``max_df_frac`` (opt-in) drops terms appearing in more than that
    fraction of documents BEFORE the ranking window — a stopword-class
    prefilter. Such terms have near-zero idf and essentially never rank in
    the top-t, but dropping them DOES change results when a document
    contains nothing else, so the default (None) keeps exact semantics.

    ``stopwords`` (opt-in) drops the listed terms AT THE SCAN, before the
    (doc, term) shuffle — unlike max_df_frac (which must pay the full
    shuffle to learn df first), a fixed stopword list cuts the exploded
    row volume itself, the dominant cost at corpus scale (measured ~3x on
    the token shuffle for English stopword ratios). Semantics change the
    same way: dropped terms vanish from df accounting — opt-in only.

    ``min_df`` (opt-in) drops terms appearing in FEWER than min_df
    documents before the join+window — the long-tail complement of
    max_df_frac (hapax typos and noise dominate vocabulary size on web
    corpora; the df table and the ranking join shrink accordingly while
    the exploded shuffle is unchanged). Same opt-in caveat: a document
    whose every term is rare can lose all its rows."""
    from pyspark.sql.window import Window

    toks = _tokens(text_col)
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(toks)).alias("term"),
    ).where(F.col("term") != "")
    if stopwords:
        exploded = exploded.where(
            ~F.col("term").isin([w.lower() for w in stopwords]))
    tf = exploded.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df is not None:
        dfreq = dfreq.where(F.col("df") >= min_df)
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf",
                    (F.col("tf") * F.log(F.col("__n") / F.col("df")))
                    .cast("double"))
    )
    if max_df_frac is not None:
        scored = scored.where(F.col("df") <= F.col("__n") * max_df_frac)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= top_t)
        .select("doc_id", "term",
                F.col("tf").cast("bigint").alias("tf"),
                F.col("df").cast("bigint").alias("df"),
                "tfidf")
    )


def bm25_topk(df: DataFrame, id_col: str, text_col: str,
              query_terms: list[str], k: int = 20,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25 (Robertson et
    al.), the standard lexical retrieval score — useful for corpus search
    and for mining positive/hard-negative training pairs.

    score(d) = sum over query terms of
      ln(1 + (N - df + 0.5) / (df + 0.5)) *
      tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale shape: the query term list is a broadcast literal filter, so only
    matching postings shuffle; N/avgdl join in as a 1-row broadcast
    aggregate; the final top-k window runs on the (small) matching-doc set.
    The per-doc sum over query terms routes through DECIMAL so it is
    order-independent (double addition order varies with partial-agg merge
    order). Ties break on doc_id asc. Returns (doc_id, score, rank)."""
    from pyspark.sql.window import Window

    terms = [t.lower() for t in query_terms]
    toks = _tokens(text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.expr(toks).alias("__t"),
    ).select(
        "doc_id",
        F.size("__t").cast("double").alias("dl"),
        F.explode("__t").alias("term"),
    )
    stats = df.select(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg(F.size(F.expr(toks))).alias("__avgdl"),
    )
    tf = (
        base.where(F.col("term").isin(terms))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__s",
            F.log(1.0 + (F.col("__n") - F.col("df") + 0.5)
                  / (F.col("df") + 0.5))
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf")
               + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))),
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("__s").cast("decimal(28,12)"))
             .cast("double").alias("score"))
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "score", "rank")
    )


# GPT-2-style pretokenizer pattern, restricted to pure alternation (no
# lookaround) so the SAME pattern runs in Spark's Java regex and the
# oracle's RE2: contraction suffixes, space-prefixed letter/digit runs,
# punctuation runs, whitespace runs.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


def bpe_token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counts from a BPE-ish pretokenizer regex — a materially better
    LLM-cost estimate than whitespace words (captures punctuation runs,
    contractions, and digit runs as separate tokens, like GPT-2's
    pretokenizer does before BPE merges).

    One codegen'd projection (regexp_extract_all + size); no shuffle, no
    Python. Returns (id, n_bpe_tokens, n_ws_tokens) — both counts so
    callers can calibrate whitespace-based estimates per corpus."""
    toks = _tokens(text_col)
    # the pattern goes in as a Column (F.lit), NOT interpolated into a SQL
    # string literal: Spark's literal parser would strip the single
    # backslashes ('\s' -> 's') and silently change the token boundaries
    return df.select(
        F.col(id_col),
        F.size(
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit(BPE_ISH_PATTERN), F.lit(0))
        ).cast("int").alias("n_bpe_tokens"),
        F.expr(
            f"size(filter({toks}, x -> x <> ''))"
        ).cast("int").alias("n_ws_tokens"),
    )


def _bpe_zip(col: str = "syms") -> str:
    return (f"zip_with(slice({col}, 1, size({col}) - 1),"
            f" slice({col}, 2, size({col}) - 1), (a, b) -> struct(a, b))")


_BPE_ZIP = _bpe_zip("syms")


def _bpe_pair_counts(words: DataFrame, weight: F.Column) -> DataFrame:
    """Weighted adjacent-pair counts (a, b, n) from a (cnt, syms) table."""
    return (
        words.select(weight.alias("wt"),
                     F.explode(F.expr(_BPE_ZIP)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("wt").alias("n"))
    )


def _bpe_merge_fold(a: str, b: str) -> F.Column:
    """Greedy left-to-right application of merge (a, b) to a syms array."""
    ab = a + b
    return F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.lit(ab))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_train_driver(words: list[tuple[int, list[str]]], n_merges: int,
                      min_pair_count: int) -> list[tuple[str, str, int]]:
    """Fast driver-side BPE training over a collected (count, syms) word
    table: lazy-invalidation heap for the argmax, per-word pair Counters
    for signed delta updates — every merge costs O(carrier words), zero
    Spark jobs. Identical conventions to the distributed strategies
    (naive overlapping adjacent counting, greedy left-to-right fold,
    count DESC / left ASC / right ASC tie-break), so the merge table is
    bit-identical (equivalence-gated in tests)."""
    import heapq
    from collections import Counter

    def pair_counter(syms: list[str]) -> Counter:
        return Counter(zip(syms, syms[1:]))

    word_pairs = [pair_counter(s) for _c, s in words]
    counts: Counter = Counter()
    index: dict[tuple[str, str], set[int]] = {}
    for i, (cnt, _s) in enumerate(words):
        for p, k in word_pairs[i].items():
            counts[p] += cnt * k
            index.setdefault(p, set()).add(i)
    heap = [(-n, a, b) for (a, b), n in counts.items()]
    heapq.heapify(heap)

    def fold(syms: list[str], a: str, b: str) -> list[str]:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        return out

    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges and heap:
        neg_n, a, b = heapq.heappop(heap)
        if counts.get((a, b), 0) != -neg_n:
            continue  # stale entry — the count moved since this push
        if -neg_n < min_pair_count:
            break
        merges.append((a, b, -neg_n))
        touched: set[tuple[str, str]] = set()
        for i in sorted(index.get((a, b), ())):
            cnt, syms = words[i]
            new_syms = fold(syms, a, b)
            new_pc = pair_counter(new_syms)
            old_pc = word_pairs[i]
            for p in set(old_pc) | set(new_pc):
                d = new_pc.get(p, 0) - old_pc.get(p, 0)
                if d:
                    counts[p] += cnt * d
                    if counts[p] <= 0:
                        del counts[p]
                    touched.add(p)
                if new_pc.get(p, 0) == 0:
                    s = index.get(p)
                    if s is not None:
                        s.discard(i)
                        if not s:
                            del index[p]
                elif old_pc.get(p, 0) == 0:
                    index.setdefault(p, set()).add(i)
            words[i] = (cnt, new_syms)
            word_pairs[i] = new_pc
        for p in touched:
            if p in counts:
                heapq.heappush(heap, (-counts[p], p[0], p[1]))
    return merges


def bpe_train(df: DataFrame, text_col: str, n_merges: int = 30,
              min_pair_count: int = 2,
              strategy: str = "full",
              max_driver_words: int = 2_000_000) -> list[tuple[str, str, int]]:
    """Distributed BPE tokenizer training — learn the byte-pair merge
    table from the corpus (Sennrich et al. 2016), the step that produces
    the vocabulary an LLM pipeline tokenizes with.

    Returns the ordered merge list [(left, right, pair_count), ...].

    Scale shape (what real tokenizer trainers do): the corpus aggregates
    ONCE into a (word, count) frequency table — the only pass whose cost
    scales with corpus bytes; every merge iteration then runs against the
    word table (vocabulary-sized, distributed), never the corpus. Per
    iteration: one weighted pair-count aggregation (groupBy (a, b), sum of
    word counts) and one fold projection applying the merge greedily
    left-to-right inside each word. Driver state per iteration is ONE row
    (the argmax pair), total state the merge table itself — same bounded-
    model-state shape as kmeans_lloyd.

    Deterministic and engine-replayable: pair counts are integers; the
    argmax tie-breaks (count DESC, left ASC, right ASC) on binary string
    order; the merge application is a sequential fold (replace every
    left-to-right non-overlapping adjacent (a, b) with a||b). Adjacent
    pair counting is naive (overlapping occurrences in a run like "aaa"
    each count) — the convention the local oracle replays exactly.

    ``strategy="full"`` re-counts every pair each merge (simplest; the
    per-merge shuffle carries ALL adjacent-pair occurrences).
    ``strategy="delta"`` is the production-vocabulary shape: it keeps the
    pair-count table materialized and per merge (1) argmaxes the TABLE
    (no re-count), (2) re-folds only the words that CONTAIN the merged
    pair, (3) applies signed pair-count deltas from just those words. The
    per-merge shuffle then carries only affected-word pair occurrences —
    for a rare pair, a sliver of the vocabulary. The word table is still
    re-materialized per merge (immutable storage); a 50k-merge production
    run would additionally batch merges between materializations. Both
    strategies produce IDENTICAL merge tables (equivalence-gated), and
    "delta" is already faster at demonstration scale (measured 8.0s vs
    11.9s for 15 merges at sf0.01) because the per-merge argmax reads the
    materialized pair table instead of re-shuffling every pair
    occurrence; the gap widens with vocabulary size.

    ``strategy="driver"`` is the production 50k-merge path: the corpus
    pass is the SAME one distributed aggregation, but the resulting
    (count, symbols) word table — vocabulary-sized bounded model state,
    like kmeans' centroid table — is collected once and all merges train
    driver-side with a lazy-invalidation heap and per-word signed delta
    updates: O(carrier words) per merge, ZERO Spark jobs after the corpus
    pass. This is what production tokenizer trainers do (the corpus pass
    distributed, the merge loop local over word counts); a 50k-merge
    vocabulary costs one distributed pass + one driver loop instead of
    50k sequential Spark rounds. ``max_driver_words`` guards the collect:
    a corpus with more distinct words raises (train on a cleaned/gated
    corpus, raise the cap explicitly, or fall back to "delta"). Identical
    merge tables again — equivalence-gated against both distributed
    strategies."""
    if strategy not in ("full", "delta", "driver"):
        raise ValueError(f"unknown bpe_train strategy {strategy!r}")
    toks = _tokens(text_col)
    with staged() as st:
        words = st.checkpoint(  # corpus pass paid once, here
            df.select(F.explode(F.expr(toks)).alias("w"))
            .where(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("syms", F.expr(
                "transform(sequence(1, char_length(w)),"
                " i -> substring(w, i, 1))"))
            .select("cnt", "syms"))
        if strategy == "driver":
            probe = words.limit(max_driver_words + 1).count()
            if probe > max_driver_words:
                raise ValueError(
                    f"bpe_train(strategy='driver') collects the "
                    f"word-frequency table and the corpus has more than "
                    f"{max_driver_words} distinct words. Raise "
                    f"max_driver_words explicitly, train on a cleaned "
                    f"corpus, or use strategy='delta'.")
            table = [(int(r["cnt"]), list(r["syms"])) for r in words.collect()]
            st.release(words)
            return _bpe_train_driver(table, n_merges, min_pair_count)
        merges: list[tuple[str, str, int]] = []
        pairs = None
        if strategy == "delta":
            pairs = st.checkpoint(_bpe_pair_counts(words, F.col("cnt")))
        for _ in range(n_merges):
            src = pairs if pairs is not None else \
                _bpe_pair_counts(words, F.col("cnt"))
            top = (
                src.orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
                .limit(1)
                .collect()  # exactly one row of driver state per iteration
            )
            if not top or top[0]["n"] < min_pair_count:
                break
            a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
            merges.append((a, b, n))
            if pairs is None:
                nxt = st.checkpoint(  # cut the fold lineage
                    words.select("cnt", _bpe_merge_fold(a, b).alias("syms")))
                st.release(words)
                words = nxt
                continue
            # delta path. The word-table update is the same single fold-all
            # scan as "full" (the fold is the identity on non-carriers); the
            # saving is the pair-count side: signed deltas explode from ONLY
            # the carrier words — one filtered scan whose shuffle carries a
            # sliver of the pair occurrences instead of all of them.
            has = F.exists(
                F.expr(_BPE_ZIP),
                lambda p: (p["a"] == F.lit(a)) & (p["b"] == F.lit(b)))
            both = words.where(has).select(
                "cnt", F.col("syms").alias("syms_old"),
                _bpe_merge_fold(a, b).alias("syms_new"))
            signed = (
                f"concat(transform({_bpe_zip('syms_old')},"
                f" p -> struct(p.a AS a, p.b AS b,"
                f" CAST(-cnt AS BIGINT) AS n)),"
                f" transform({_bpe_zip('syms_new')},"
                f" p -> struct(p.a AS a, p.b AS b,"
                f" CAST(cnt AS BIGINT) AS n)))"
            )
            deltas = (both.select(F.explode(F.expr(signed)).alias("d"))
                      .select("d.a", "d.b", "d.n"))
            nxt_pairs = st.checkpoint(
                pairs.select("a", "b", F.col("n").cast("bigint").alias("n"))
                .unionByName(deltas)
                .groupBy("a", "b").agg(F.sum("n").alias("n"))
                .where(F.col("n") > 0))
            nxt_words = st.checkpoint(words.select(
                "cnt", _bpe_merge_fold(a, b).alias("syms")))
            st.release(pairs)
            st.release(words)
            pairs, words = nxt_pairs, nxt_words
        return merges


def bpe_segment(df: DataFrame, id_col: str, text_col: str,
                merges: list[tuple[str, str, int]]) -> DataFrame:
    """Apply a trained merge table: tokenize each document with the
    learned BPE vocabulary (whitespace words -> char symbols -> merges
    replayed in rank order). Returns (id, tokens array<string>, n_tokens).
    Pure expression pipeline — one scan, no shuffle, no Python."""
    toks = _tokens(text_col)
    word_syms = (
        "transform(filter({t}, x -> x <> ''),"
        " w -> transform(sequence(1, char_length(w)),"
        " i -> substring(w, i, 1)))").format(t=toks)
    col = F.expr(word_syms)
    for a, b, _n in merges:
        ab = a + b
        col = F.transform(col, lambda syms: F.aggregate(
            syms,
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (s == F.lit(b)),
                F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                         F.array(F.lit(a + b))),
            ).otherwise(F.concat(acc, F.array(s))),
        ))
    return df.select(
        F.col(id_col).alias("id"),
        F.flatten(col).alias("tokens"),
    ).select(
        "id", "tokens", F.size("tokens").cast("int").alias("n_tokens"),
    )


def chi2_terms(df: DataFrame, id_col: str, text_col: str, label_col: str,
               top_t: int = 10, min_df: int = 2) -> DataFrame:
    """Chi-square term-label association: for every (term, label) pair,
    the chi-square statistic of the 2x2 presence contingency table
    (docs of this label containing the term vs. everything else) — THE
    classic feature-selection ranking for training a quality/domain
    classifier over a labeled corpus slice (pick the top-t most
    label-discriminative vocabulary before fitting classify.py's
    model), and the "what vocabulary shifted?" diagnostic between
    corpus snapshots.

    Presence-based (a doc counts once per term — list_distinct), so
    a = docs with term & label, b = docs with term & other labels,
    c = label docs without term, d = the rest; chi2 =
    N*(ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)). The counts are exact
    integers and the statistic is +-*/ over their double casts — every
    op correctly-rounded IEEE, bit-replayable in SQL (no ln; this is
    the chi2_drift convention). Ties rank deterministically
    (chi2 DESC, term ASC).

    Returns (label, term, a, term_df, label_df, chi2) — the top ``top_t``
    per label among terms with document frequency >= ``min_df``.

    Scale shape: one scan explodes DISTINCT terms per doc; one shuffle
    on (term, label) aggregates a; term totals reduce off the same
    term key; label totals and N are label-cardinality/1-row broadcast
    aggregates; the top-t window is map-side rank-truncated
    (InferWindowGroupLimit) on the label key."""
    from pyspark.sql.window import Window

    if top_t < 1:
        raise ValueError(f"top_t must be >= 1, got {top_t}")
    base = (df.select(F.col(id_col).alias("doc_id"),
                      F.col(label_col).alias("label"),
                      F.expr(f"array_distinct(filter({_tokens(text_col)},"
                             f" x -> x != ''))").alias("__t"))
            .where(F.col("label").isNotNull()))
    # tl is vocabulary x labels sized — checkpoint it (the collocations
    # convention) so term_df derives from it instead of re-scanning and
    # re-exploding the corpus; lab_tot is label-cardinality sized and
    # feeds both the join and the N total (N = sum of label counts, so
    # the grand total costs no third corpus scan). Two corpus scans
    # total: the explode and the label count.
    tl = (base.select("label", F.explode("__t").alias("term"))
          .groupBy("term", "label")
          .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
          .localCheckpoint(eager=True))
    term_tot = (tl.groupBy("term")
                .agg(F.sum("a").cast("bigint").alias("term_df")))
    lab_tot = (base.groupBy("label")
               .agg(F.count(F.lit(1)).cast("bigint").alias("label_df"))
               .localCheckpoint(eager=True))
    n_docs = lab_tot.select(F.sum("label_df").cast("bigint").alias("__n"))
    j = (tl.join(term_tot.where(F.col("term_df") >= min_df), on="term")
         .join(F.broadcast(lab_tot), on="label")
         .crossJoin(F.broadcast(n_docs)))
    a = F.col("a").cast("double")
    b = (F.col("term_df") - F.col("a")).cast("double")
    c = (F.col("label_df") - F.col("a")).cast("double")
    d = (F.col("__n") - F.col("term_df") - F.col("label_df")
         + F.col("a")).cast("double")
    n = F.col("__n").cast("double")
    num = (a * d - b * c)
    chi2 = F.when(
        (a + b > 0) & (c + d > 0) & (a + c > 0) & (b + d > 0),
        n * num * num / ((a + b) * (c + d) * (a + c) * (b + d)))
    w = Window.partitionBy("label").orderBy(F.desc("chi2"), F.asc("term"))
    return (j.withColumn("chi2", chi2)
            .withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= top_t)
            .select("label", "term", "a", "term_df", "label_df", "chi2"))


def rake_keywords(df: DataFrame, id_col: str, text_col: str,
                  stopwords: tuple[str, ...] | None = None,
                  top_t: int = 3) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    the maximal runs of content words between stopwords/punctuation;
    each word scores degree/frequency over the whole corpus (degree =
    total length of phrases it appears in — rewards words that travel
    in longer collocations), and a phrase scores the sum of its words'
    scores. The unsupervised keyword/topic signal beside tfidf_terms
    (which needs no stopword list but ranks single terms only).

    Determinism: a sum of double ratios would be partition-order
    dependent, so word scores fix-point FIRST —
    ``(degree * 1000000) div freq`` is ONE exact integer division per
    word — and phrase scores sum those integers (order-free, the
    correlation_matrix convention), reported as score/1e6. Phrase
    splitting is two regexp passes (punctuation -> boundary, then
    ``\\b(stop|words)\\b`` -> '|') that replay identically on RE2/Java
    regex; ties rank (score DESC, phrase ASC).

    Returns the top ``top_t`` DISTINCT phrases per doc as
    (doc_id, phrase, n_words, score).

    Scale shape: phrases and words are scan-side expressions; ONE
    vocabulary-keyed shuffle builds word stats; the score join reuses
    the word key; the per-doc re-aggregation and rank-truncated top-t
    window share the doc key. No Python, no collect."""
    from pyspark.sql.window import Window

    if top_t < 1:
        raise ValueError(f"top_t must be >= 1, got {top_t}")
    stops = tuple(stopwords) if stopwords is not None else STOPWORDS["en"]
    if not stops:
        raise ValueError("rake_keywords needs a non-empty stopword list")
    alt = "|".join(sorted(stops))
    # punctuation is a phrase BOUNDARY (canonical RAKE), not whitespace
    clean = (f"regexp_replace(lower({text_col}), "
             f"'[^a-z0-9\\\\s]+', '|')")
    marked = f"regexp_replace({clean}, '\\\\b({alt})\\\\b', '|')"
    phrases = (f"filter(transform(split({marked}, '\\\\|'), "
               f"x -> trim(regexp_replace(x, '\\\\s+', ' '))), "
               f"x -> x != '')")
    ph = (df.select(F.col(id_col).alias("doc_id"),
                    F.explode(F.expr(phrases)).alias("phrase"))
          .withColumn("words", F.expr("split(phrase, ' ')"))
          .withColumn("n_words", F.size("words")))
    # word stats over the corpus: freq = occurrences, degree = sum of
    # the containing phrase's length per occurrence (the RAKE degree,
    # self-co-occurrence included)
    wstats = (ph.select(F.explode("words").alias("word"), "n_words")
              .groupBy("word")
              .agg(F.count(F.lit(1)).cast("bigint").alias("freq"),
                   F.sum("n_words").cast("bigint").alias("degree")))
    wscore = wstats.select(
        "word",
        F.expr("(degree * 1000000) div freq").alias("score_fp"))
    scored = (ph.select("doc_id", "phrase", "n_words",
                        F.explode("words").alias("word"))
              .join(wscore, on="word")
              .groupBy("doc_id", "phrase", "n_words")
              .agg((F.sum(F.col("score_fp").cast("decimal(38,0)"))
                    .cast("double") / 1e6).alias("score")))
    # identical phrases within a doc collapse to one candidate (same
    # score by construction); rank is map-side truncated on doc_id
    dedup = (scored.groupBy("doc_id", "phrase")
             .agg(F.max("n_words").cast("int").alias("n_words"),
                  F.max("score").alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"),
                                             F.asc("phrase"))
    return (dedup.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= top_t)
            .select("doc_id", "phrase", "n_words", "score"))


def ngram_oov_rate(df: DataFrame, id_col: str, text_col: str,
                   reference: DataFrame, ref_text_col: str = "text",
                   n: int = 3, min_count: int = 2) -> DataFrame:
    """Out-of-vocabulary n-gram rate against a REFERENCE corpus: the
    fraction of each document's distinct character n-grams that never
    (or too rarely) appear in the reference — the cheap,
    division-deterministic stand-in for reference-LM perplexity scoring
    (the CCNet-style "does this text look like my trusted corpus?"
    quality gate; actual perplexity needs ln(), which this repo's
    oracle policy forbids — the OOV rate ranks junk the same direction
    with integer counts and ONE IEEE division per doc).

    Vocabulary = the reference's distinct lowercased n-grams with
    document frequency >= ``min_count`` (hapax noise excluded). Scoring
    is presence-based over each doc's DISTINCT n-grams, so length does
    not inflate the rate. Returns (doc_id, n_grams, n_oov, oov_rate);
    a doc too short for one n-gram yields its (shorter) whole text as
    the single gram — the shingle-floor convention.

    Scale shape: one reference scan -> vocabulary aggregation; one
    corpus scan -> exploded doc grams; ONE key-shuffled left join
    (co-partitioned with the vocab aggregation) + a doc-keyed count.
    No collect — the vocabulary stays distributed. Both sides hash the
    gram to an 8-byte xxhash64 key SCAN-SIDE (the clean_corpus trick),
    so the vocabulary shuffle and the membership join move fixed-width
    bigints, not n-char strings — presence semantics are hash-safe
    (a cross-gram collision folds two grams into one vocabulary slot;
    at 64 bits that is birthday-negligible against any real gram
    population, and the direction of error is conservative for a
    quality gate: a colliding OOV gram reads as in-vocabulary)."""
    from .dedup import _shingle_expr

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # STAGE lower() into its own projection before shingling: an
    # expression embedded in the shingle transform's lambda body
    # re-evaluates PER ELEMENT (the word_ngrams caveat) — inline
    # lower(text) measured 3x the whole operator's scan cost at sf0.1
    hashed = f"transform({_shingle_expr('__lt', n)}, s -> xxhash64(s))"
    vocab = (reference
             .select(F.lower(F.col(ref_text_col)).alias("__lt"))
             .select(F.explode(F.expr(hashed)).alias("gram"))
             .groupBy("gram")
             .agg(F.count(F.lit(1)).alias("__df"))
             .where(F.col("__df") >= min_count)
             .select("gram"))
    grams = (df.select(F.col(id_col).alias("doc_id"),
                       F.lower(F.col(text_col)).alias("__lt"))
             .select("doc_id", F.explode(F.expr(hashed)).alias("gram")))
    # the vocabulary is alphabet^n bounded for character n-grams —
    # model-state-sized; broadcast it so the corpus-side gram mass
    # never shuffles for the membership join
    return (grams
            .join(F.broadcast(vocab.withColumn("__in", F.lit(1))),
                  on="gram", how="left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                 F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_oov"))
            .select("doc_id", "n_grams", "n_oov",
                    (F.col("n_oov").cast("double")
                     / F.col("n_grams").cast("double")).alias("oov_rate")))
