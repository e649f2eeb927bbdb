"""[EXTENSION] Similarity search over embedding columns (array<float>).

Baseline: exact brute-force cosine top-k (self-join or query-join) with the
dot product as a sequential double fold — deterministic, codegen'd, oracle-
comparable.

Scale paths:
- ``brp_lsh_topk``: BucketedRandomProjectionLSH (pyspark.ml) — sub-quadratic
  candidate generation via random hyperplane buckets.
- ``ivf_topk``: inverted-file (IVF) — k-means-lite centroids, search only the
  ``nprobe`` nearest cells. Centroids are seeded deterministically from the
  data (no RNG at query time), so results are reproducible.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..staging import staged

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * y),"
    " 0D, (acc, x) -> acc + x)"
)
_NORM = "sqrt(" + _DOT.format(a="{v}", b="{v}") + ")"


# NOTE on numeric paths: the exact, oracle-checked operators (cosine_topk,
# dedup.embedding_cosine_pairs) use sequential JVM folds — bit-reproducible
# against DuckDB's list_reduce. The approximate paths (ivf_topk, brp_lsh)
# use numpy matmul per cell — pairwise summation rounds differently, which
# is fine where no oracle parity is claimed.


def _with_norm(df: DataFrame, id_col: str, vec_col: str,
               extra: list[str] | None = None) -> DataFrame:
    sel = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    for c in extra or []:
        sel.append(F.col(c))
    return df.select(*sel).withColumn("nrm", F.expr(_NORM.format(v="v")))


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    queries: DataFrame | None = None,
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors. Self-search when ``queries`` is None
    (excludes self-matches). Returns (query_id, neighbor_id, cosine, rank).

    Brute force = one shuffle-free broadcastable join at small query counts;
    at large scale swap in brp_lsh_topk/ivf_topk candidates and keep this
    ranking stage."""
    base = _with_norm(df, id_col, vec_col).alias("b")
    q = (
        _with_norm(queries, query_id_col or id_col, vec_col)
        if queries is not None else _with_norm(df, id_col, vec_col)
    ).alias("q")
    cond = [F.col("q.id") != F.col("b.id")] if queries is None else []
    dot = _DOT.format(a="q.v", b="b.v")
    # broadcast the QUERY side explicitly: the nested-loop join must stream
    # the (large) base and replicate the small query set — left to the
    # planner, the choice can flip and tank throughput
    scored = (
        F.broadcast(q).join(base, on=cond if cond else F.lit(True))
        .withColumn("cosine", F.expr(dot) / (F.col("q.nrm") * F.col("b.nrm")))
    )
    w = Window.partitionBy("q.id").orderBy(
        F.desc("cosine"), F.asc(F.col("b.id"))
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("q.id").alias("query_id"),
            F.col("b.id").alias("neighbor_id"),
            F.col("cosine"),
            F.col("rank"),
        )
    )


def brp_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH over euclidean
    distance of L2-normalized vectors (monotone in cosine). Returns
    (query_id, neighbor_id, approx_cosine, rank)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    prepared = (
        df.select(F.col(id_col).alias("id"),
                  array_to_vector(F.col(vec_col).cast("array<double>"))
                  .alias("raw"))
    )
    normalizer = Normalizer(inputCol="raw", outputCol="features", p=2.0)
    feats = normalizer.transform(prepared).select("id", "features")
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(feats)
    # ||a-b||^2 = 2 - 2cos for unit vectors -> distance threshold sqrt(2)
    # admits every non-negative-cosine candidate
    joined = model.approxSimilarityJoin(feats, feats, 1.4142135, "dist")
    pairs = (
        joined.where(F.col("datasetA.id") != F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("query_id"),
            F.col("datasetB.id").alias("neighbor_id"),
            (1 - F.col("dist") * F.col("dist") / 2).alias("approx_cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def kmeans_centroids(df: DataFrame, id_col: str, vec_col: str,
                     n_cells: int, seed: int = 42) -> DataFrame:
    """Trained IVF centroids via pyspark.ml KMeans (seeded — deterministic
    for a given dataset+partitioning). Returns (cid, cv) rows."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feats = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(feats)
    spark = df.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return spark.createDataFrame(rows, "cid int, cv array<double>")


def pq_encode_expr(codebooks: list[list[list[float]]], vec_col: str) -> F.Column:
    """PQ encoding as a pure JVM expression: for each of m subspaces,
    the index of the nearest codebook centroid for that slice of the
    vector. ``codebooks[j][c]`` = centroid c of subspace j. Returns
    array<int> of length m."""
    m = len(codebooks)
    ks = len(codebooks[0])
    d_sub = len(codebooks[0][0])
    cb = "array(%s)" % ", ".join(
        "array(%s)" % ", ".join(
            "array(%s)" % ", ".join(f"{x!r}D" for x in cent)
            for cent in book)
        for book in codebooks)
    # per subspace j: distances to all ks centroids ONCE, then argmin via
    # array_position(array_min) — the squared-distance subexpression
    # appears a single time (an IF-based running argmin would inline it
    # twice and double both codegen size and evaluation)
    diff = (f"(cast(element_at({vec_col}, j * {d_sub} + t + 1) as double)"
            f" - element_at(element_at(element_at({cb}, j + 1), c + 1),"
            f" t + 1))")
    sq = (f"aggregate(sequence(0, {d_sub - 1}), 0D, (a, t) ->"
          f" a + {diff} * {diff})")
    darr = f"transform(sequence(0, {ks - 1}), c -> {sq})"
    # single-pass argmin over the materialized distance array (strict <
    # keeps the FIRST minimal index — deterministic tie-break)
    amin = (f"aggregate(zip_with({darr}, sequence(0, {ks - 1}),"
            f" (d, c) -> named_struct('d', d, 'c', c)),"
            f" named_struct('d', cast('Infinity' as double), 'c', -1),"
            f" (acc, x) -> IF(x.d < acc.d, x, acc), acc -> acc.c)")
    return F.expr(
        f"transform(sequence(0, {m - 1}), j -> cast(({amin}) as int))"
    )


def _exact_l2_rerank(cand: DataFrame, qv: DataFrame, bv: DataFrame,
                     k: int) -> DataFrame:
    """Shared exact-refinement tail for the PQ family: re-score ADC
    candidates (query_id, neighbor_id, approx_d2) with EXACT squared L2
    against the raw vectors — qv/bv are (query_id, __qv) / (neighbor_id,
    __bv) — and window down to top-k. One definition keeps pq_topk and
    ivf_pq_query bit-identical (review finding: hand-copies drift)."""
    exact_d2 = (
        "aggregate(zip_with(__qv, __bv, (x, y) ->"
        " (cast(x as double) - y) * (cast(x as double) - y)),"
        " 0D, (a, x) -> a + x)"
    )
    rr = (
        cand.join(F.broadcast(qv), on="query_id")
        .join(bv, on="neighbor_id")
        .withColumn("approx_d2", F.expr(exact_d2))
        .drop("__qv", "__bv")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_d2"),
                                               F.asc("neighbor_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_d2", "rank")
    )


def pq_codebooks(df: DataFrame, id_col: str, vec_col: str, m: int = 8,
                 ks: int = 16) -> list[list[list[float]]]:
    """Deterministic, training-free codebooks: subvectors of the ``ks``
    lowest-id vectors per subspace (the IVF seed-centroid trick applied
    per subspace). Swap for per-subspace k-means offline for higher
    recall — the encode/score path is codebook-agnostic."""
    rows = (df.orderBy(id_col).limit(ks)
            .select(F.col(vec_col).alias("v")).collect())
    dim = len(rows[0].v)
    assert dim % m == 0, "vector dim must divide into m subspaces"
    d_sub = dim // m
    return [
        [[float(x) for x in r.v[j * d_sub:(j + 1) * d_sub]] for r in rows]
        for j in range(m)
    ]


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    queries: DataFrame | None = None,
    query_id_col: str | None = None,
    rerank: int = 4,
    train_codebooks: bool = False,
) -> DataFrame:
    """Product-quantization ANN: vectors compress to m one-byte-ish codes
    (here m ints), queries score against codes via asymmetric distance
    (query slice vs codebook centroid per subspace) — the classic
    IVF-PQ building block (Jégou et al., TPAMI'11).

    At 100 TB the wins are structural: the scored table is the CODES (m
    ints/row instead of the raw vector — ~16x smaller scan + shuffle),
    the codebook is a broadcast literal, and scoring is a JVM fold with
    no Python. ``rerank`` > 0 re-scores the ADC top ``rerank*k`` with
    EXACT squared L2 over the raw vectors (the standard refinement pass:
    only candidate rows re-read their vectors). Returns (query_id,
    neighbor_id, approx_d2, rank); with rerank, approx_d2 is the exact
    distance and ranking is exact within the candidate set.
    ``train_codebooks=True`` swaps the training-free codebooks for
    per-subspace k-means on a bounded sample (pq_codebooks_kmeans) —
    measurably higher recall, same deterministic guarantee."""
    if train_codebooks:
        books = pq_codebooks_kmeans(df, id_col, vec_col, m=m, ks=ks)
    else:
        books = pq_codebooks(df, id_col, vec_col, m=m, ks=ks)
    d_sub = len(books[0][0])
    cb = "array(%s)" % ", ".join(
        "array(%s)" % ", ".join(
            "array(%s)" % ", ".join(f"{x!r}D" for x in cent)
            for cent in book)
        for book in books)

    coded = df.select(
        F.col(id_col).alias("id"),
        pq_encode_expr(books, vec_col).alias("codes"),
    ).alias("b")
    # the classic ADC trick: per QUERY ROW, precompute the m x ks table of
    # ||q_sub_j - centroid_c||^2 once; each scored pair then costs m array
    # lookups instead of m*d_sub float ops
    diff = (f"(cast(element_at(qv, j * {d_sub} + t + 1) as double)"
            f" - element_at(element_at(element_at({cb}, j + 1), c + 1),"
            f" t + 1))")
    dtab = (
        f"transform(sequence(0, {m - 1}), j ->"
        f" transform(sequence(0, {ks - 1}), c ->"
        f" aggregate(sequence(0, {d_sub - 1}), 0D, (s, t) ->"
        f" s + {diff} * {diff})))"
    )
    q = (
        (queries if queries is not None else df).select(
            F.col(query_id_col or id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
        )
        .withColumn("dtab", F.expr(dtab))
        .drop("qv")
        .alias("q")
    )
    adc = (
        f"aggregate(sequence(0, {m - 1}), 0D, (a, j) ->"
        f" a + element_at(element_at(q.dtab, j + 1),"
        f" element_at(b.codes, j + 1) + 1))"
    )
    scored = (
        F.broadcast(q).join(coded, on=F.expr("q.qid != b.id"))
        .withColumn("approx_d2", F.expr(adc))
    )
    w = Window.partitionBy("q.qid").orderBy(F.asc("approx_d2"),
                                            F.asc(F.col("b.id")))
    topn = k * rerank if rerank > 0 else k
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topn)
        .select(
            F.col("q.qid").alias("query_id"),
            F.col("b.id").alias("neighbor_id"),
            F.col("approx_d2"),
        )
    )
    if rerank <= 0:
        return cand.withColumn(
            "rank", F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.asc("approx_d2"), F.asc("neighbor_id"))))
    # exact refinement: only the k*rerank candidates re-read raw vectors
    qv = (queries if queries is not None else df).select(
        F.col(query_id_col or id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"))
    bv = df.select(F.col(id_col).alias("neighbor_id"),
                   F.col(vec_col).alias("__bv"))
    return _exact_l2_rerank(cand, qv, bv, k)


# Above this many literal doubles (n_cells * dim), centroid-as-literal
# expressions stop being cheap: Catalyst analysis/codegen time grows with
# expression-tree size and very large trees fall back to interpreted
# evaluation. The broadcast-join assignment path takes over there.
_IVF_LITERAL_BUDGET = 16_384


def _ivf_assign_literal(base: DataFrame, cell_rows, nprobe: int) -> DataFrame:
    """Rank all cells per vector inside one codegen'd expression — zero
    shuffle. Returns (id, v, nrm, cid, crank) rows, crank in 1..nprobe."""
    cells_lit = F.array(*[
        F.struct(
            F.lit(int(r["cid"])).cast("bigint").alias("cid"),
            F.array(*[F.lit(float(x)) for x in r["cv"]])
            .cast("array<double>").alias("cv"),
            F.lit(float(r["cnrm"])).alias("cnrm"),
        )
        for r in cell_rows
    ])
    dot_vc = _DOT.format(a="v", b="c.cv")
    probe_expr = (
        f"transform(slice(array_sort(transform(__cells, c -> struct("
        f"-({dot_vc}) / (nrm * c.cnrm) AS negsim, c.cid AS cid))),"
        f" 1, {max(nprobe, 1)}), (p, i) -> struct(p.cid AS cid,"
        f" i + 1 AS crank))"
    )
    # no persist: `cells` and `probes` in the caller each re-read the source
    # with this cheap per-row projection — at corpus scale two scans beat
    # caching the entire vector column (and nothing leaks into the
    # caller's session)
    return (
        base.withColumn("__cells", cells_lit)
        .select("id", "v", "nrm", F.explode(F.expr(probe_expr)).alias("pp"))
        .select("id", "v", "nrm", F.col("pp.cid").alias("cid"),
                F.col("pp.crank").alias("crank"))
    )


def _ivf_assign_broadcast(base: DataFrame, centroids: DataFrame,
                          nprobe: int) -> DataFrame:
    """Fallback assignment for large codebooks: broadcast-join every vector
    with the centroid table and window-rank the similarities. One extra
    corpus-wide shuffle (the window partition on id), but the plan size is
    independent of n_cells * dim."""
    dot_vc = _DOT.format(a="v", b="cv")
    scored = (
        base.join(F.broadcast(centroids))
        .withColumn("__sim", F.expr(dot_vc) / (F.col("nrm") * F.col("cnrm")))
    )
    w = Window.partitionBy("id").orderBy(F.desc("__sim"), F.asc("cid"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= max(nprobe, 1))
        .select("id", "v", "nrm", F.col("cid").cast("bigint").alias("cid"),
                "crank")
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 3,
    train_centroids: bool = False,
    trainer: str = "ml",
) -> DataFrame:
    """IVF-style approximate top-k: assign every vector to its nearest
    centroid, then search each query only within its ``nprobe`` nearest
    cells. Centroids: the n_cells lowest-id vectors (seed-free,
    reproducible) or k-means-trained (``train_centroids=True`` — better
    recall at equal nprobe). ``trainer="ml"`` uses pyspark.ml KMeans
    (seeded, but its float partial sums depend on partitioning);
    ``trainer="lloyd"`` uses kmeans_lloyd_centroids — fully
    partitioning-independent, so the whole index build is reproducible
    bit-for-bit on any cluster layout.

    NOTE: calling this function is EAGER — it collects the (tiny) centroid
    table to build the assignment expression, which runs one Spark job
    before any action on the result. Centroid ids must be integral and
    centroid vectors free of NULL elements (both raise here, at build
    time, instead of failing mid-job).

    At 100 TB: centroid list is tiny (broadcast); assignment is one scan; the
    search join shuffles on cell id instead of exploding all pairs. When
    ``n_cells * dim`` exceeds the literal budget (large trained codebooks),
    assignment switches to a broadcast-join + window plan — one extra
    corpus-wide shuffle, but no giant literal expression for Catalyst to
    analyze/codegen."""
    base = _with_norm(df, id_col, vec_col)
    centroids = _ivf_centroids(df, base, id_col, vec_col, n_cells,
                               train_centroids, trainer)
    # Cell assignment is EXPRESSION-LOCAL: the centroid table is tiny
    # (n_cells rows), so collect it and rank all cells per vector inside one
    # codegen'd expression — array_sort over struct(-sim, cid) picks the
    # top-nprobe cells with ZERO shuffle. (The previous plan crossJoined
    # every vector with every centroid and ranked with a row_number window:
    # an n_cells-times-amplified shuffle of the whole corpus just to take
    # argmax-nprobe of n_cells scores — the exact pattern pq_encode_expr
    # already avoids for subspace argmin.)
    cell_rows = _ivf_collect_cells(centroids)
    if not cell_rows:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, cosine double, rank int")
    ranked = _ivf_assign(base, centroids, cell_rows, nprobe)
    cells = ranked.where(F.col("crank") == 1).select("id", "v", "nrm", "cid")
    probes = ranked.where(F.col("crank") <= nprobe).select(
        F.col("id").alias("qid"), F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"), "cid",
    )
    return _ivf_score_and_rank(probes, cells, k)


# per-cell scoring via cogroup + numpy matmul: every vector crosses the
# Arrow boundary once per cell-membership (not once per PAIR — a per-pair
# UDF ships each 64-float vector hundreds of times), and the per-cell
# score matrix is one SIMD matmul.
def _ivf_score_cell(key, probes_pdf: "pd.DataFrame", cells_pdf: "pd.DataFrame",
                    exclude_self: bool = True):
    import numpy as np

    if len(probes_pdf) == 0 or len(cells_pdf) == 0:
        return pd.DataFrame(columns=["qid", "id", "cosine"])
    P = np.stack(probes_pdf["qv"].to_numpy()).astype(np.float64)
    C = np.stack(cells_pdf["v"].to_numpy()).astype(np.float64)
    sims = (P @ C.T) / np.outer(
        np.sqrt((P * P).sum(axis=1)), np.sqrt((C * C).sum(axis=1))
    )
    qids = probes_pdf["qid"].to_numpy()
    ids = cells_pdf["id"].to_numpy()
    qi, ci = np.meshgrid(np.arange(len(qids)), np.arange(len(ids)),
                         indexing="ij")
    out = pd.DataFrame({
        "qid": qids[qi.ravel()],
        "id": ids[ci.ravel()],
        "cosine": sims.ravel(),
    })
    if exclude_self:
        out = out[out["qid"] != out["id"]]
    return out


def _ivf_score_and_rank(probes: DataFrame, cells: DataFrame,
                        k: int, exclude_self: bool = True) -> DataFrame:
    """Cogroup probes against cell postings on the cell id, score each
    cell with one matmul, window-rank per query. ``probes`` must carry
    (qid, qv, qnrm, cid); ``cells`` (id, v, nrm, cid).

    ``exclude_self`` drops (qid == id) score rows — correct for
    self-search (ivf_topk: a vector is trivially its own nearest
    neighbor), WRONG for external-query search (ivf_index_query: a query
    id is in a different id space, and an accidental id collision with an
    unrelated corpus vector must not delete that neighbor)."""
    # rename one grouping key so same-lineage callers dodge the
    # ambiguous-self-join check (cogroup keys match positionally)
    probes = probes.withColumnRenamed("cid", "pcid")

    def score(key, p_pdf, c_pdf):
        return _ivf_score_cell(key, p_pdf, c_pdf, exclude_self=exclude_self)

    scored = (
        probes.groupBy("pcid").cogroup(cells.groupBy("cid"))
        .applyInPandas(score,
                       schema="qid bigint, id bigint, cosine double")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("neighbor_id"),
            F.col("cosine"),
            F.col("rank"),
        )
    )


def _ivf_centroids(df: DataFrame, base: DataFrame, id_col: str,
                   vec_col: str, n_cells: int, train_centroids: bool,
                   trainer: str) -> DataFrame:
    """The (cid, cv, cnrm) centroid table — ONE copy of the seeding
    conventions (lloyd / ml-kmeans / lowest-id seeds) shared by ivf_topk
    and ivf_index_build, so the one-shot and persisted-index paths can
    never drift apart."""
    if train_centroids and trainer == "lloyd":
        import math

        cents = kmeans_lloyd_centroids(df, id_col, vec_col,
                                       k=n_cells, iters=4)
        return df.sparkSession.createDataFrame(
            [(int(i), [float(x) for x in v],
              math.sqrt(math.fsum(x * x for x in v)))
             for i, v in enumerate(cents)],
            "cid BIGINT, cv ARRAY<DOUBLE>, cnrm DOUBLE")
    if train_centroids:
        norm_expr = _NORM.format(v="cv")
        return kmeans_centroids(df, id_col, vec_col, n_cells).select(
            "cid", "cv", F.expr(norm_expr).alias("cnrm"))
    return base.orderBy("id").limit(n_cells).select(
        F.col("id").alias("cid"), F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"))


def _ivf_collect_cells(centroids: DataFrame) -> list:
    """Collect + validate a (cid, cv, cnrm) centroid table (tiny — model
    state, not data)."""
    cell_rows = centroids.select("cid", "cv", "cnrm").collect()
    for r in cell_rows:
        if r["cv"] is None or any(x is None for x in r["cv"]):
            raise ValueError(
                f"IVF: centroid {r['cid']!r} has NULL vector elements")
        try:
            int(r["cid"])
        except (TypeError, ValueError):
            raise ValueError(f"IVF: centroid id {r['cid']!r} is not integral")
    return cell_rows


def _ivf_assign(base: DataFrame, centroids: DataFrame, cell_rows,
                nprobe: int) -> DataFrame:
    """Literal-expression assignment when the codebook fits the literal
    budget, broadcast-join + window otherwise."""
    if not cell_rows:
        raise ValueError("IVF: empty centroid table")
    dim = len(cell_rows[0]["cv"])
    if len(cell_rows) * dim > _IVF_LITERAL_BUDGET:
        return _ivf_assign_broadcast(base, centroids, nprobe)
    return _ivf_assign_literal(base, cell_rows, nprobe)


def ivf_index_build(df: DataFrame, id_col: str, vec_col: str,
                    n_cells: int = 16, train_centroids: bool = False,
                    trainer: str = "ml") -> tuple[DataFrame, DataFrame]:
    """Build a REUSABLE IVF index over an embedding corpus: returns
    ``(centroids, postings)`` — centroids (cid, cv, cnrm) and postings
    (id, v, nrm, cid), every corpus vector assigned to its nearest
    centroid. This is the vector-database shape: write both as tables
    (postings partitioned/bucketed by cid so a probe reads only its
    cells), then run :func:`ivf_index_query` against them for every
    query batch instead of rebuilding the index per search, and
    :func:`ivf_index_append` to admit new vectors incrementally.

    Centroid options are ivf_topk's: lowest-id seed vectors (default,
    fully deterministic) or k-means-trained (``trainer="lloyd"`` for the
    partitioning-independent build). At 100 TB the build is one
    assignment scan; the index adds one narrow bigint column per vector
    plus an n_cells-row model table."""
    base = _with_norm(df, id_col, vec_col)
    centroids = _ivf_centroids(df, base, id_col, vec_col, n_cells,
                               train_centroids, trainer)
    cell_rows = _ivf_collect_cells(centroids)
    ranked = _ivf_assign(base, centroids, cell_rows, nprobe=1)
    postings = (ranked.where(F.col("crank") == 1)
                .select("id", "v", "nrm", "cid"))
    return centroids, postings


def ivf_index_append(new_df: DataFrame, centroids: DataFrame,
                     id_col: str, vec_col: str) -> DataFrame:
    """Posting rows for NEW vectors against an existing index's centroids
    — append these to the postings table to admit an increment without
    touching the corpus (centroids stay fixed; retrain/rebuild when
    drift matters)."""
    base = _with_norm(new_df, id_col, vec_col)
    cell_rows = _ivf_collect_cells(centroids)
    ranked = _ivf_assign(base, centroids, cell_rows, nprobe=1)
    return ranked.where(F.col("crank") == 1).select("id", "v", "nrm", "cid")


def ivf_index_query(queries: DataFrame, centroids: DataFrame,
                    postings: DataFrame, id_col: str, vec_col: str,
                    k: int = 10, nprobe: int = 3,
                    exclude_self: bool = False) -> DataFrame:
    """Search a prebuilt IVF index: rank each query's ``nprobe`` nearest
    cells from the centroid table, cogroup against ONLY those cells'
    postings, score per cell with one numpy matmul, window the top-k.
    Per-batch cost is O(queries x probed-cell postings) — the corpus is
    never rescanned. Returns (query_id, neighbor_id, cosine, rank);
    full probe (nprobe = n_cells) equals brute force exactly.

    ``exclude_self`` (default False — the safe setting for the normal
    external-query use, where query ids are a DIFFERENT id space from
    the corpus: with exclusion on, an accidental id collision with an
    unrelated corpus vector silently deletes that neighbor and shifts
    every rank below it). Pass ``exclude_self=True`` ONLY when querying
    the index with its own members (one shared id space, a vector must
    not be its own neighbor — what the oracle gates do)."""
    qbase = _with_norm(queries, id_col, vec_col)
    cell_rows = _ivf_collect_cells(centroids)
    ranked = _ivf_assign(qbase, centroids, cell_rows, nprobe=nprobe)
    probes = ranked.where(F.col("crank") <= nprobe).select(
        F.col("id").alias("qid"), F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"), "cid",
    )
    return _ivf_score_and_rank(probes, postings, k,
                               exclude_self=exclude_self)


def _pq_cb_literal(codebooks: list[list[list[float]]]) -> str:
    return "array(%s)" % ", ".join(
        "array(%s)" % ", ".join(
            "array(%s)" % ", ".join(f"{x!r}D" for x in cent)
            for cent in book)
        for book in codebooks)


def _pq_dtab_expr(codebooks: list[list[list[float]]], vec_expr: str) -> str:
    """The ADC distance-table expression: per row, the m x ks table of
    ||sub_j(vec) - centroid_c||^2 (vec_expr is any array<double>-typed
    SQL expression — pq_topk uses the raw query vector, IVF-PQ the
    query residual against the probed cell's centroid)."""
    m = len(codebooks)
    ks = len(codebooks[0])
    d_sub = len(codebooks[0][0])
    cb = _pq_cb_literal(codebooks)
    diff = (f"(element_at(__pqv, j * {d_sub} + t + 1)"
            f" - element_at(element_at(element_at({cb}, j + 1), c + 1),"
            f" t + 1))")
    body = (
        f"transform(sequence(0, {m - 1}), j ->"
        f" transform(sequence(0, {ks - 1}), c ->"
        f" aggregate(sequence(0, {d_sub - 1}), 0D, (s, t) ->"
        f" s + {diff} * {diff})))"
    )
    # bind vec_expr ONCE via a lambda-let (transform over a 1-element
    # array) so a compound residual expression isn't re-evaluated per
    # (j, c, t) — HOF lambda bodies evaluate embedded subtrees per
    # element (the simhash/minhash hazard)
    return (f"element_at(transform(array(cast(({vec_expr}) as"
            f" array<double>)), __pqv -> {body}), 1)")


def ivf_pq_index_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    m: int = 8,
    ks: int = 16,
    train_centroids: bool = False,
    trainer: str = "ml",
    train_codebooks: bool = True,
) -> tuple[DataFrame, list[list[list[float]]], DataFrame]:
    """IVF-PQ (IVFADC, Jégou et al. TPAMI'11): the billion-vector index
    shape — coarse IVF cells plus PQ codes of the RESIDUAL (v - cell
    centroid). Returns ``(centroids, codebooks, postings)`` where
    postings is (id, cid, codes) — NO raw vectors: the stored index is
    m small ints per vector (~16x smaller than float32 embeddings at
    m=8/dim=32, far more at real dims), which is the structural win at
    100 TB — the per-query scan covers nprobe cells of CODES, and raw
    vectors are touched only by the rerank join on the candidate ids.

    Codebooks train on residuals of a bounded deterministic sample
    (pq_codebooks_kmeans — classic PQ trains on a sample regardless of
    corpus size; driver state stays O(model)). Centroid options are
    ivf_index_build's. Write postings partitioned/bucketed by cid and
    the codebooks as a JSON artifact next to the centroid table."""
    base = _with_norm(df, id_col, vec_col)
    centroids = _ivf_centroids(df, base, id_col, vec_col, n_cells,
                               train_centroids, trainer)
    cell_rows = _ivf_collect_cells(centroids)
    assigned = (
        _ivf_assign(base, centroids, cell_rows, nprobe=1)
        .where(F.col("crank") == 1)
        .join(centroids.select("cid", "cv"), on="cid")
        .withColumn("resid", F.expr(
            "zip_with(v, cv, (x, y) -> cast(x as double) - y)"))
    )
    if train_codebooks:
        books = pq_codebooks_kmeans(assigned, "id", "resid", m=m, ks=ks)
    else:
        books = pq_codebooks(assigned, "id", "resid", m=m, ks=ks)
    postings = assigned.select(
        "id", "cid", pq_encode_expr(books, "resid").alias("codes"))
    return centroids, books, postings


def ivf_pq_index_append(new_df: DataFrame, centroids: DataFrame,
                        codebooks: list[list[list[float]]],
                        id_col: str, vec_col: str) -> DataFrame:
    """Posting rows (id, cid, codes) for NEW vectors against an existing
    IVF-PQ index's centroids + codebooks — append to the postings table
    to admit an increment; the model (centroids, codebooks) stays fixed
    until a deliberate retrain."""
    base = _with_norm(new_df, id_col, vec_col)
    cell_rows = _ivf_collect_cells(centroids)
    assigned = (
        _ivf_assign(base, centroids, cell_rows, nprobe=1)
        .where(F.col("crank") == 1)
        .join(centroids.select("cid", "cv"), on="cid")
        .withColumn("resid", F.expr(
            "zip_with(v, cv, (x, y) -> cast(x as double) - y)"))
    )
    return assigned.select(
        "id", "cid", pq_encode_expr(codebooks, "resid").alias("codes"))


def _ivf_pq_model_stamp(centroids: DataFrame,
                        codebooks: list[list[list[float]]]) -> str:
    """Deterministic md5 fingerprint of an IVF-PQ model (coarse centroids
    + PQ codebooks). Collects only the centroid table — O(n_cells x dim),
    driver-bounded model state."""
    import hashlib
    import json as _json

    cents = sorted((int(r["cid"]), [float(x) for x in r["cv"]])
                   for r in centroids.select("cid", "cv").collect())
    payload = _json.dumps([cents, codebooks])
    return hashlib.md5(payload.encode()).hexdigest()


def ivf_pq_index_save(centroids: DataFrame,
                      codebooks: list[list[list[float]]],
                      postings: DataFrame, table_prefix: str,
                      mode: str = "overwrite") -> None:
    """Persist an IVF-PQ index as catalog tables — the durable vector-
    database artifact: ``{prefix}_centroids`` (the coarse model),
    ``{prefix}_postings`` PARTITIONED BY cid (a probe reads only its
    nprobe cells' files), and ``{prefix}_model`` (one row holding the
    codebooks as JSON — a metastore-agnostic model store; TBLPROPERTIES
    value-size limits vary by catalog). ``mode="append"`` admits an
    increment's posting rows (centroids/model must already exist and
    stay fixed — pass the SAME codebooks used to encode).

    Appends are GUARDED: overwrite stamps an md5 of the model (centroids
    + codebooks) into the postings table's TBLPROPERTIES; an append whose
    model hashes differently is refused BEFORE any bytes land — posting
    rows encoded against different codebooks score garbage ADC distances
    and silently corrupt recall (the minhash_index_save mh_params guard,
    applied to the vector index)."""
    import json as _json

    from .dedup import _quote_table_ident

    spark = postings.sparkSession
    stamp = _ivf_pq_model_stamp(centroids, codebooks)
    post_table = f"{table_prefix}_postings"
    existed = spark.catalog.tableExists(post_table)
    if mode == "append" and existed:
        props = {r["key"]: r["value"] for r in spark.sql(
            f"SHOW TBLPROPERTIES {_quote_table_ident(post_table)}"
        ).collect()}
        existing = props.get("ivfpq_model")
        if existing is not None and existing != stamp:
            raise ValueError(
                f"refusing to append postings encoded with model "
                f"{stamp[:12]}… to index {table_prefix!r} built with "
                f"{existing[:12]}… — codes from different codebooks/"
                f"centroids silently corrupt recall. Rebuild the index "
                f"(mode='overwrite') or encode with the saved model "
                f"(ivf_pq_index_load + ivf_pq_index_append).")
    if mode == "overwrite":
        (centroids.write.format("parquet").mode("overwrite")
         .saveAsTable(f"{table_prefix}_centroids"))
        spark.createDataFrame(
            [(_json.dumps(codebooks),)], "codebooks_json string"
        ).write.format("parquet").mode("overwrite") \
            .saveAsTable(f"{table_prefix}_model")
    (postings.write.format("parquet").mode(mode)
     .partitionBy("cid").saveAsTable(post_table))
    # stamp on overwrite AND on an append that CREATED the table (every
    # row is vouched for either way) — otherwise the first-write-is-append
    # pattern would leave the table unstamped and the guard above
    # permanently inert for that index. An append to a pre-existing
    # UNstamped table stays unstamped: we cannot vouch for rows we did
    # not write.
    if mode == "overwrite" or not existed:
        spark.sql(f"ALTER TABLE {_quote_table_ident(post_table)} "
                  f"SET TBLPROPERTIES ('ivfpq_model' = '{stamp}')")


def ivf_pq_index_load(spark: SparkSession, table_prefix: str):
    """Read a saved IVF-PQ index back as ``(centroids, codebooks,
    postings)`` — the inputs of :func:`ivf_pq_query` /
    :func:`ivf_pq_index_append`. The partition column comes back as its
    original bigint."""
    import json as _json

    centroids = spark.table(f"{table_prefix}_centroids")
    codebooks = _json.loads(
        spark.table(f"{table_prefix}_model").first()["codebooks_json"])
    postings = spark.table(f"{table_prefix}_postings").withColumn(
        "cid", F.col("cid").cast("bigint"))
    return centroids, codebooks, postings


def ivf_pq_query(
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    postings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 3,
    rerank: int = 4,
    raw_df: DataFrame | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Search an IVF-PQ index: rank each query's ``nprobe`` nearest
    cells, build the ADC table from the query's RESIDUAL against each
    probed cell's centroid (that is what makes this IVFADC — the table
    is per (query, cell)), score that cell's code postings with m array
    lookups per pair, take the ADC top ``k*rerank``, then re-score
    those candidates with EXACT squared L2 against ``raw_df`` (required
    when rerank > 0 — the raw vectors live in the corpus table, not the
    compressed index). Returns (query_id, neighbor_id, approx_d2,
    rank); with rerank, approx_d2 is exact L2 within the candidates.

    ``exclude_self`` as in ivf_index_query: only for self-search over a
    shared id space."""
    if rerank > 0 and raw_df is None:
        raise ValueError(
            "rerank > 0 needs raw_df (the corpus with raw vectors); pass "
            "rerank=0 for ADC-only ranking")
    qbase = _with_norm(queries, id_col, vec_col)
    cell_rows = _ivf_collect_cells(centroids)
    probes = (
        _ivf_assign(qbase, centroids, cell_rows, nprobe=nprobe)
        .where(F.col("crank") <= nprobe)
        .join(centroids.select("cid", "cv"), on="cid")
        .select(F.col("id").alias("qid"), "cid",
                F.expr("zip_with(v, cv, (x, y) -> cast(x as double) - y)")
                .alias("rq"))
        .withColumn("dtab", F.expr(_pq_dtab_expr(codebooks, "rq")))
        .drop("rq")
    )
    m = len(codebooks)
    adc = (
        f"aggregate(sequence(0, {m - 1}), 0D, (a, j) ->"
        f" a + element_at(element_at(dtab, j + 1),"
        f" element_at(codes, j + 1) + 1))"
    )
    scored = (
        F.broadcast(probes).join(postings, on="cid")
        .where(F.expr("qid != id") if exclude_self else F.lit(True))
        .withColumn("approx_d2", F.expr(adc))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("approx_d2"),
                                          F.asc(F.col("id")))
    topn = k * rerank if rerank > 0 else k
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topn)
        .select(F.col("qid").alias("query_id"),
                F.col("id").alias("neighbor_id"), "approx_d2")
    )
    if rerank <= 0:
        return cand.withColumn(
            "rank", F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.asc("approx_d2"), F.asc("neighbor_id"))))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("__qv"))
    bv = raw_df.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("__bv"))
    return _exact_l2_rerank(cand, qv, bv, k)


def projection_matrix(in_dim: int, out_dim: int, seed: str = "rp") -> list[list[int]]:
    """Deterministic ±1 random-projection matrix (Achlioptas-style sign
    matrix) derived from md5 — reproducible on any engine/run without RNG
    state. Entry (d, j) = +1 if the first hex nibble of md5('seed:d:j') is
    even else -1."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{seed}:{d}:{j}".encode())
                     .hexdigest()[0], 16) % 2 == 0 else -1
            for j in range(in_dim)
        ]
        for d in range(out_dim)
    ]


def random_projection(df: DataFrame, id_col: str, vec_col: str,
                      out_dim: int = 4, seed: str = "rp") -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a deterministic
    sign matrix: out[d] = sum_j sign(d,j) * v[j] / sqrt(out_dim). The
    cheap pre-step for clustering/ANN at 100 TB — distances are preserved
    within JL bounds at a fraction of the width.

    The matrix rows are broadcast as literal arrays and each output
    coordinate is a sequential JVM fold (bit-reproducible, oracle-
    comparable); one scan, no shuffle, no Python in the data plane.
    Returns (id, p0..p{out_dim-1})."""
    # derive the input width from an AGGREGATE over all rows, not one
    # arbitrary row: with mixed-width vectors a single-row probe builds a
    # matrix that's silently wrong for every other width (zip_with folds
    # over the shorter side without erroring) — same job count, but the
    # mismatch becomes a build-time error instead of corrupted output
    dims = df.agg(F.min(F.size(F.col(vec_col))).alias("lo"),
                  F.max(F.size(F.col(vec_col))).alias("hi")).first()
    if dims is None or dims.lo is None:
        raise ValueError("random_projection on an empty DataFrame")
    if dims.lo != dims.hi:
        raise ValueError(
            f"random_projection requires uniform vector width; found "
            f"sizes {dims.lo}..{dims.hi} in {vec_col!r}")
    in_dim = dims.lo
    mat = projection_matrix(in_dim, out_dim, seed)
    cols = [F.col(id_col)]
    for d in range(out_dim):
        weights = ", ".join(f"{w}D" for w in mat[d])
        fold = (
            f"aggregate(zip_with({vec_col}, array({weights}),"
            f" (x, w) -> cast(x as double) * w), 0D, (acc, x) -> acc + x)"
            f" / sqrt({out_dim}D)"
        )
        cols.append(F.expr(fold).cast("double").alias(f"p{d}"))
    return df.select(*cols)


def mean_pool(df: DataFrame, group_col: str, vec_col: str) -> DataFrame:
    """Element-wise mean embedding per group — chunk-to-document pooling
    (a long doc is embedded in chunks; the doc-level vector for retrieval
    or dedup is the mean of its chunk vectors).

    Scale shape: posexplode to (group, dim, value) rows so the shuffle key
    is (group, dim) — a group with many chunks spreads over dim-many
    reducers instead of concentrating all its vectors in one task, and no
    executor ever materializes a whole group's vector list. Per-dimension
    sums run in DECIMAL: a double sum would depend on Spark's
    nondeterministic partial-aggregation merge order, a decimal sum is
    order-independent and engine-exact (the float value is widened to
    double exactly, then rounded once to 6 decimals). The mean divides as
    doubles (IEEE, engine-identical). Reassembly sorts by dim inside each
    group row."""
    exploded = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    )
    sums = exploded.groupBy("grp", "dim").agg(
        F.sum(F.col("v").cast("double").cast("decimal(18,6)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        sums.withColumn(
            "m", F.col("s").cast("double") / F.col("n").cast("double"))
        .groupBy("grp")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(dim, m))),"
                   " x -> x.m)").alias("mean_embedding"),
            F.max("n").cast("bigint").alias("n_vectors"),
        )
        .withColumnRenamed("grp", group_col)
    )


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v| / 127,
    code_i = floor(v_i / scale + 0.5). The standard storage/bandwidth
    compression for embedding corpora — codes are 4x smaller than float32
    (16x smaller than the doubles they'd otherwise widen to in shuffles),
    and reconstruction error is bounded by scale/2 per dimension.

    Every step is deterministic IEEE double arithmetic (floor(x + 0.5)
    instead of round() so no rounding-mode ambiguity across engines): one
    scan, no shuffle, no Python. The scale fold is staged so it computes
    once per row, not once per reference (no CSE across lambdas). A zero
    vector quantizes to all-zero codes with scale 0.
    Returns (id, scale, codes array<int>)."""
    absmax = "aggregate({v}, 0D, (a, x) -> greatest(a, abs(cast(x as double))))"
    scale = "(" + absmax.format(v=vec_col) + " / 127D)"
    codes = (
        "IF(scale = 0D, transform(__v, x -> 0),"
        " transform(__v,"
        " x -> cast(floor(cast(x as double) / scale + 0.5D) as int)))"
    )
    return (
        df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).alias("__v"),
                  F.expr(scale).cast("double").alias("scale"))
        .select("id", "scale", F.expr(codes).alias("codes"))
    )


def dequantize_error_stats(df: DataFrame, id_col: str,
                           vec_col: str) -> DataFrame:
    """Round-trip quantization quality report: per-vector max absolute
    reconstruction error (|v_i - code_i * scale|) and the theoretical bound
    scale/2 it must respect — the check a pipeline runs before swapping a
    float32 embedding column for int8 codes.

    Same staged single-scan shape as quantize_int8: the scale and error
    folds each compute once per row (no CSE across lambdas), then the
    bound check compares the stored columns.
    Returns (id, scale, max_abs_err, within_bound)."""
    absmax = "aggregate({v}, 0D, (a, x) -> greatest(a, abs(cast(x as double))))"
    scale = "(" + absmax.format(v=vec_col) + " / 127D)"
    err = (
        "IF(scale = 0D, 0D,"
        " aggregate(transform(__v, x -> abs(cast(x as double)"
        " - floor(cast(x as double) / scale + 0.5D) * scale)),"
        " 0D, (a, x) -> greatest(a, x)))"
    )
    return (
        df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).alias("__v"),
                  F.expr(scale).cast("double").alias("scale"))
        .select("id", "scale", F.expr(err).cast("double")
                .alias("max_abs_err"))
        .select("id", "scale", "max_abs_err",
                F.expr("max_abs_err <= scale / 2D + 1e-12")
                .alias("within_bound"))
    )


def cell_blocked_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.35,
    n_cells: int = 16,
    nprobe: int = 2,
    train_centroids: bool = False,
    train_iters: int = 3,
) -> DataFrame:
    """Semantic near-dup pairs, sub-quadratically: assign every vector to
    its ``nprobe`` nearest cells (same expression-local assignment as
    ivf_topk — zero shuffle), emit exact-cosine pairs WITHIN each cell,
    dedupe across cells. A pair is found iff the two vectors share at least
    one probed cell — near vectors share their nearest or second-nearest
    centroid, so recall is high at nprobe=2 (measure per corpus).

    This is the scale path for dedup.embedding_cosine_pairs (which is
    guardrailed all-pairs): the join mass is sum over cells of
    members^2 instead of n^2, and the per-pair cosine is the SAME exact
    sequential JVM fold, so emitted values are bit-identical to the
    brute-force operator (an oracle can verify the pair set directly
    wherever blocking recall is 100%).

    ``train_centroids=True`` replaces the seed centroids (first-n_cells
    vectors) with kmeans_lloyd centroids — the SemDeDup shape (Abbas et
    al. 2023: k-means clusters as the dedup blocks). Trained cells track
    the data distribution, so members spread more evenly (smaller
    members^2 join mass) and near pairs more reliably co-locate; training
    cost is train_iters fully-distributed passes. Emitted cosines remain
    bit-identical to brute force either way.

    Like ivf_topk, calling this is EAGER (collects the tiny centroid
    table). Returns (id_a, id_b, cosine) with id_a < id_b."""
    import math

    base = _with_norm(df, id_col, vec_col)
    if train_centroids:
        cents = kmeans_lloyd_centroids(df, id_col, vec_col,
                                       k=n_cells, iters=train_iters)
        spark = df.sparkSession
        centroids = spark.createDataFrame(
            [(int(i), [float(x) for x in v],
              math.sqrt(math.fsum(x * x for x in v)))
             for i, v in enumerate(cents)],
            "cid BIGINT, cv ARRAY<DOUBLE>, cnrm DOUBLE")
    else:
        centroids = base.orderBy("id").limit(n_cells).select(
            F.col("id").alias("cid"), F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"))
    cell_rows = centroids.collect()
    if not cell_rows:
        return df.sparkSession.createDataFrame(
            [], "id_a bigint, id_b bigint, cosine double")
    # same literal-budget routing as ivf_topk: a large n_cells x dim
    # codebook would otherwise build a giant Catalyst literal expression
    dim = len(cell_rows[0]["cv"])
    if len(cell_rows) * dim > _IVF_LITERAL_BUDGET:
        ranked = _ivf_assign_broadcast(base, centroids, nprobe)
    else:
        ranked = _ivf_assign_literal(base, cell_rows, nprobe)
    probed = ranked.select("id", "v", "nrm", "cid")
    a, b = probed.alias("a"), probed.alias("b")
    dot = _DOT.format(a="a.v", b="b.v")
    return (
        a.join(b, on=[F.col("a.cid") == F.col("b.cid"),
                      F.col("a.id") < F.col("b.id")])
        .withColumn("cosine",
                    (F.expr(dot) / (F.col("a.nrm") * F.col("b.nrm")))
                    .cast("double"))
        .where(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"), "cosine")
        .dropDuplicates(["id_a", "id_b"])
    )


def pq_codebooks_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    ks: int = 16,
    sample_limit: int = 2048,
    iters: int = 15,
) -> list[list[list[float]]]:
    """Trained PQ codebooks: per-subspace Lloyd k-means on a BOUNDED,
    deterministic sample (the ``sample_limit`` lowest-id vectors;
    first-ks-points init, fixed iteration count — no RNG, reproducible).

    Training happens driver-side in numpy, which is the right shape at any
    scale: codebook quality needs a representative sample, not the corpus
    (classic PQ trains on ~100k vectors for billion-vector indexes), so the
    collect is bounded by ``sample_limit`` regardless of input size. The
    ENCODE/SCORE path stays fully distributed and expression-level.
    Measured on the test corpus: recall@5 with rerank goes 0.38 -> 0.60
    versus the training-free codebooks."""
    import numpy as np

    rows = (df.orderBy(id_col).limit(sample_limit)
            .select(F.col(vec_col).alias("v")).collect())
    X = np.array([r.v for r in rows], dtype=np.float64)
    dim = X.shape[1]
    assert dim % m == 0, "vector dim must divide into m subspaces"
    d_sub = dim // m

    def lloyd(pts: "np.ndarray") -> "np.ndarray":
        cents = pts[:ks].copy()
        for _ in range(iters):
            d = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1)
            assign = d.argmin(axis=1)
            for j in range(ks):
                sel = pts[assign == j]
                if len(sel):
                    cents[j] = sel.mean(axis=0)
        return cents

    return [
        lloyd(X[:, j * d_sub:(j + 1) * d_sub]).tolist()
        for j in range(m)
    ]


# --------------------------------------------------------------------------
# Distributed k-means (Lloyd's) — exact, partitioning-independent
# --------------------------------------------------------------------------

def _km_assign_literal(base: DataFrame,
                       cents: list[list[float]]) -> DataFrame:
    """Assign each vector to its nearest centroid (squared euclidean,
    ties -> lowest cid) inside ONE codegen'd expression — zero shuffle.
    The per-row distance is a sequential double fold, so the argmin is
    bit-deterministic regardless of partitioning."""
    cells = F.array(*[
        F.struct(
            F.lit(int(cid)).alias("cid"),
            F.array(*[F.lit(float(x)) for x in vec])
            .cast("array<double>").alias("cv"),
        )
        for cid, vec in enumerate(cents)
    ])
    d2 = ("aggregate(zip_with(v, c.cv, (x, w) ->"
          " (cast(x as double) - w) * (cast(x as double) - w)),"
          " 0D, (acc, x) -> acc + x)")
    pick = (f"array_min(transform(__cells, c ->"
            f" struct({d2} AS d2, c.cid AS cid)))")
    return (
        base.withColumn("__cells", cells)
        .withColumn("__pick", F.expr(pick))
        .select("id", "v", F.col("__pick.cid").alias("cid"),
                F.col("__pick.d2").alias("d2"))
    )


def _km_assign_broadcast(base: DataFrame, cents: list[list[float]],
                         spark) -> DataFrame:
    """Fallback assignment when k * dim exceeds the literal budget:
    broadcast-join the centroid table, window-argmin per vector. Plan size
    is independent of k * dim; costs one window shuffle on id."""
    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in vec]) for i, vec in enumerate(cents)],
        "cid INT, cv ARRAY<DOUBLE>")
    d2 = ("aggregate(zip_with(v, cv, (x, w) ->"
          " (cast(x as double) - w) * (cast(x as double) - w)),"
          " 0D, (acc, x) -> acc + x)")
    scored = base.join(F.broadcast(cdf)).withColumn("d2", F.expr(d2))
    w = Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cid"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select("id", "v", "cid", "d2")
    )


def kmeans_lloyd_centroids(
    df: DataFrame, id_col: str, vec_col: str,
    k: int = 8, iters: int = 4,
) -> list[list[float]]:
    """DataFrame-native Lloyd's k-means, EXACT and reproducible: unlike
    pyspark.ml KMeans (RNG init, float-order-dependent partial sums), every
    step here is partitioning-independent —

    - init: the ``k`` lowest-id vectors (deterministic, no RNG);
    - assignment: per-row sequential double fold (no cross-row float math);
    - update: per-(cluster, dim) DECIMAL(18,6) sums (order-independent,
      the mean_pool technique) divided driver-side in IEEE doubles.

    Driver state is exactly k x dim doubles per iteration — the classic
    bounded-model-state shape (same as ivf_topk's centroid table), so the
    loop runs `iters` fully-distributed jobs against any corpus size.
    Empty clusters keep their previous centroid. Returns the final
    centroid list; kmeans_lloyd() below returns the assignment DataFrame.

    Cross-checkable: the identical arithmetic is replayable in pure Python
    (Decimal HALF_UP quantization + float division), which is how the
    battery's embedding_kmeans oracle pins this operator value-exactly."""
    with staged() as st:
        base = st.hold(_km_base(df, id_col, vec_col))
        return _km_train(base, k, iters, df.sparkSession)


def _km_base(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Reify (id, v) once before the iterative scans. Without this, a
    computed vec_col (e.g. hash_embed's fold) is re-inlined into every
    centroid-distance lambda of every iteration — Catalyst does no CSE
    across HOF lambda references, so the embedding would be recomputed
    k x (iters + 2) times per row (measured 6x slowdown on the
    text->embed->cluster composite at sf0.1). localCheckpoint(eager=False)
    materializes the column on the first job and truncates lineage;
    iterations then scan stored rows, the shape a 100 TB run needs anyway
    (persist-before-iterate). The checkpoint is the caller's:
    kmeans_lloyd_centroids releases it once trained, kmeans_lloyd returns
    an assignment that still reads it (catalog.clearCache does NOT cover
    checkpoint blocks; staging.release does).

    NOTE (r17, tried and reverted): _spread-ing the slice before the
    checkpoint — the sf0.1 corpus arrives as ONE scan split, so every
    iteration runs single-task (8 jobs / 11 tasks total) — measured
    SLOWER, 3.77 -> 4.25s warm-min interleaved: the line is
    job-round-bound (driver collect per iteration), not CPU-bound, so
    the round-robin shuffle plus 32-task scheduling per iteration costs
    more than the serialized fold saves. The arithmetic is
    partitioning-independent (order-free DECIMAL sums, per-row
    assignment, orderBy(id) seeds), so the revert is about time, not
    correctness; at 100 TB the input arrives multi-split and iterations
    parallelize without help (SCALE_r17.json: kmeans 8c/32c = 1.13 on
    the 10x multi-split replica)."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return base.localCheckpoint(eager=False)


def _km_train(base: DataFrame, k: int, iters: int,
              spark) -> list[list[float]]:
    seed_rows = base.orderBy("id").limit(k).collect()
    if not seed_rows:
        return []
    cents = [[float(x) for x in r["v"]] for r in seed_rows]
    dim = len(cents[0])
    use_literal = k * dim <= _IVF_LITERAL_BUDGET
    for _ in range(iters):
        assigned = (_km_assign_literal(base, cents) if use_literal
                    else _km_assign_broadcast(base, cents, spark))
        sums = (
            assigned.select("cid", F.posexplode("v").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.sum(F.col("x").cast("double").cast("decimal(18,6)"))
                 .alias("s"),
                 F.count(F.lit(1)).alias("n"))
            .collect()  # <= k * dim rows — bounded model state, not data
        )
        new = [list(c) for c in cents]
        for r in sums:
            new[r["cid"]][r["dim"]] = float(r["s"]) / float(r["n"])
        cents = new
    return cents


def kmeans_lloyd(
    df: DataFrame, id_col: str, vec_col: str,
    k: int = 8, iters: int = 4,
) -> DataFrame:
    """Exact distributed k-means clustering (see kmeans_lloyd_centroids).
    Returns (id, cid, dist2) — the final assignment under the trained
    centroids. dist2 is the sequential-fold squared euclidean distance,
    bit-identical across partitionings and engines."""
    base = _km_base(df, id_col, vec_col)
    cents = _km_train(base, k, iters, df.sparkSession)
    if not cents:
        return base.select(
            F.col("id").alias(id_col),
            F.lit(None).cast("int").alias("cid"),
            F.lit(None).cast("double").alias("dist2"),
        ).where(F.lit(False))
    dim = len(cents[0])
    assigned = (_km_assign_literal(base, cents)
                if k * dim <= _IVF_LITERAL_BUDGET
                else _km_assign_broadcast(base, cents, df.sparkSession))
    return assigned.select(
        F.col("id").alias(id_col),
        F.col("cid").cast("int").alias("cid"),
        F.col("d2").alias("dist2"),
    )


def hash_embed(df: DataFrame, id_col: str, text_col: str,
               dim: int = 64) -> DataFrame:
    """Feature-hashed text embeddings (hashing trick, Weinberger et al.
    2009) — a deterministic, model-free text -> dense-vector path: each
    token adds +-1 (sign bit 32 of its xxhash64) to bucket
    pmod(xxhash64(token), dim); the bucket sums L2-normalize into a unit
    vector. Completes the raw-text pipeline story end-to-end in-engine:
    text -> hash_embed -> kmeans_lloyd / cell_blocked_cosine_pairs with
    no external embedding model.

    One scan, no shuffle, no Python. Bucket sums are INTEGER (exact at
    any scale); normalization is one sqrt + divide per dimension (IEEE,
    engine-identical), so the output is bit-deterministic and replayable
    by the battery oracle via the pinned pure-Python xxh64. A doc with no
    tokens embeds as the zero vector. The token array, the bucket-sum
    fold, and the squared norm are STAGED into successive projections —
    Catalyst does no CSE across lambda expressions, so inlining would
    re-run the whole per-token fold for every reference (~4x per row:
    the norm, the zero test, and each IF branch). Returns (id,
    embedding array<double>, n_tokens)."""
    toks = (f"filter(split(trim(lower(`{text_col}`)), '\\\\s+'),"
            f" x -> x <> '')")
    # per-token (bucket, sign) computed ONCE, then folded into int sums
    tb = ("transform(__toks, t -> named_struct("
          f"'b', CAST(pmod(xxhash64(t), {dim}) AS INT),"
          " 's', CAST(IF(((xxhash64(t) >> 32) & 1) = 0, 1, -1) AS BIGINT)))")
    sums = (f"aggregate({tb},"
            f" array_repeat(0L, {dim}),"
            f" (acc, p) -> transform(acc, (x, i) ->"
            f" IF(i = p.b, x + p.s, x)))")
    emb = ("IF(__ss = 0D, transform(__sums, x -> 0D),"
           " transform(__sums, x -> CAST(x AS DOUBLE) / sqrt(__ss)))")
    return (
        df.select(F.col(id_col).alias("id"), F.expr(toks).alias("__toks"))
        .select("id", F.expr(sums).alias("__sums"),
                F.expr("size(__toks)").cast("int").alias("n_tokens"))
        .select("id", "__sums", "n_tokens",
                F.expr("aggregate(__sums, 0D, (acc, x) ->"
                       " acc + CAST(x * x AS DOUBLE))").alias("__ss"))
        .select("id", F.expr(emb).alias("embedding"), "n_tokens")
    )


def cross_cosine_pairs(
    new_df: DataFrame,
    hist_df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.35,
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """Cross-corpus semantic near-dup pairs — the incremental-ingest
    dedup shape: a NEW batch is checked against the HISTORICAL corpus
    only (never within either side), so a growing dataset admits each
    increment with one blocked join instead of a full re-dedup.

    Blocking: centroids seed from the historical side (stable as history
    grows); both sides assign to their ``nprobe`` nearest cells with the
    same expression-local assignment as ivf_topk; candidate pairs are
    (new x hist) within shared cells; cosines are the exact sequential
    JVM fold (bit-identical to a brute cross-join, so a subset contract
    is directly checkable). Returns (new_id, hist_id, cosine)."""
    new_base = _with_norm(new_df, id_col, vec_col)
    hist_base = _with_norm(hist_df, id_col, vec_col)
    centroids = hist_base.orderBy("id").limit(n_cells).select(
        F.col("id").alias("cid"), F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"))
    cell_rows = centroids.collect()
    if not cell_rows:
        return new_df.sparkSession.createDataFrame(
            [], "new_id bigint, hist_id bigint, cosine double")
    dim = len(cell_rows[0]["cv"])
    if len(cell_rows) * dim > _IVF_LITERAL_BUDGET:
        a = _ivf_assign_broadcast(new_base, centroids, nprobe)
        b = _ivf_assign_broadcast(hist_base, centroids, nprobe)
    else:
        a = _ivf_assign_literal(new_base, cell_rows, nprobe)
        b = _ivf_assign_literal(hist_base, cell_rows, nprobe)
    a, b = a.alias("a"), b.alias("b")
    dot = _DOT.format(a="a.v", b="b.v")
    return (
        a.join(b, on=[F.col("a.cid") == F.col("b.cid")])
        .withColumn("cosine",
                    (F.expr(dot) / (F.col("a.nrm") * F.col("b.nrm")))
                    .cast("double"))
        .where(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("new_id"),
                F.col("b.id").alias("hist_id"), "cosine")
        .dropDuplicates(["new_id", "hist_id"])
    )


def gram_matrix(df: DataFrame, vec_col: str, method: str = "exact",
                scale: float = 1e12) -> DataFrame:
    """Distributed Gram matrix: upper-triangle second moments
    G[i][j] = sum over rows of v[i]*v[j] (j >= i), the per-dimension
    sums S[i], and the row count n — everything PCA/whitening needs
    (covariance = G/n - outer(S/n, S/n), assembled driver-side by
    :func:`pca_train`). Returns (i, j, g, si, n) with si = S[i]
    repeated on the i-diagonal block rows where j == i, NULL elsewhere
    (one result table carries both statistics).

    ``method='exact'``: each row explodes into its d(d+1)/2 upper-
    triangle terms, each fixed-pointed as FLOOR(term * scale) (pure
    deterministic IEEE arithmetic — the quantize_int8 convention) and
    summed in DECIMAL(38,0) — order-independent, engine-exact, so the
    whole matrix replays verbatim in SQL. The d^2 blowup caps the
    practical dimension (~hundreds); it exists to be the ORACLE.
    Pick ``scale`` so max|v_i * v_j| * scale < 2^63 (the per-term
    FLOOR lands in a BIGINT; ANSI Spark raises loudly past it) —
    1e12 suits unit-normalized embeddings, 1e6 suits raw business
    numerics up to ~1e5.

    ``method='fast'``: per-partition numpy outer-product accumulation
    via mapInPandas — one d x d float64 partial per partition, summed
    at the end. The 100 TB path (no blowup: each partition emits d^2
    numbers regardless of row count); float accumulation order varies
    with partitioning, so it is equivalence-tested against 'exact'
    within tolerance, not bit-gated (the streaming_vector_admission
    exact/scale split)."""
    if method == "exact":
        # gram_state carries the shared malformed-input guard
        return gram_finalize(gram_state(df, vec_col, scale=scale),
                             scale=scale)
    if method != "fast":
        raise ValueError(f"method must be 'exact' or 'fast', "
                         f"got {method!r}")
    df = _checked_vectors(df, vec_col)

    import numpy as np

    def partials(batches):
        acc = None
        s = None
        n = 0
        for pdf in batches:
            vs = np.asarray(
                [v for v in pdf[vec_col] if v is not None],
                dtype=np.float64)
            if not len(vs):
                continue
            g = vs.T @ vs
            acc = g if acc is None else acc + g
            s = vs.sum(axis=0) if s is None else s + vs.sum(axis=0)
            n += len(vs)
        if acc is None:
            return
        d = acc.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame({
            "i": iu.astype("int32"), "j": ju.astype("int32"),
            "g": acc[iu, ju],
            "si": [s[a] if a == b else None for a, b in zip(iu, ju)],
            "n": np.full(len(iu), n, dtype="int64")})

    # every partition emits every (i, j) cell with its own row count, so
    # the per-cell sum of n IS the total row count
    part = df.select(vec_col).mapInPandas(
        partials, "i int, j int, g double, si double, n bigint")
    return (part.groupBy("i", "j")
            .agg(F.sum("g").alias("g"), F.sum("si").alias("si"),
                 F.sum("n").cast("bigint").alias("n")))


def _checked_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Shared malformed-input guard for the gram/PCA family (ONE copy —
    gram_matrix's fast branch and gram_state both use it, so the two
    paths cannot drift): whole-NULL vectors are excluded (no
    observation); an empty vector or a NULL ELEMENT raises in-scan
    (fast mode would otherwise emit NULL cells, exact mode a biased
    covariance); a vector whose length differs from the first observed
    row's dimension ALSO raises — mixed-dimension input would otherwise
    emit per-(i, j) counts that disagree and a silently wrong,
    row-order-dependent covariance out of pca_train (an advisor
    finding). The dimension pin costs one limit-1 scan (model-state
    sized), same class as kmeans' centroid collect."""
    df = df.where(F.col(vec_col).isNotNull())
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    dim_check = (f" OR size({vec_col}) != {int(first['d'])}"
                 if first is not None else "")
    vt = df.schema[vec_col].dataType.simpleString()
    bad = (f"size({vec_col}) < 1 OR "
           f"exists({vec_col}, x -> x IS NULL){dim_check}")
    checked = F.when(
        F.expr(bad),
        F.expr("raise_error('gram_matrix: vectors must be non-empty "
               "with non-null elements and one shared dimension')"
               ).cast(vt),
    ).otherwise(F.col(vec_col))
    return df.select(*[c for c in df.columns if c != vec_col],
                     checked.alias(vec_col))


def gram_state(df: DataFrame, vec_col: str,
               scale: float = 1e12) -> DataFrame:
    """MERGEABLE fixed-point gram state: (i, j, p, sv, n) with p/sv the
    DECIMAL(38,0) sums of FLOOR(term * scale) and n the row count —
    gram_matrix's exact mode BEFORE the final divide. Fixed-point terms
    (not double->DECIMAL casts — the engines tie-round the 12th decimal
    differently) sum exactly in any order, so per-shard/per-batch
    states folded through :func:`gram_state_merge` equal the state
    built over all rows at once BIT-FOR-BIT — the streaming-
    maintenance contract (integer addition is associative and
    commutative; nothing here depends on batching). The shared
    :func:`_checked_vectors` guard applies (empty / NULL-element /
    mixed-dimension vectors raise; whole-NULL vectors are excluded)."""
    df = _checked_vectors(df, vec_col)
    sc = repr(float(scale))
    terms = (
        "flatten(transform(sequence(0, size(__v) - 1), i -> "
        "transform(sequence(i, size(__v) - 1), j -> struct("
        "i AS i, j AS j, "
        "CAST(FLOOR(CAST(element_at(__v, i + 1) AS DOUBLE)"
        f" * CAST(element_at(__v, j + 1) AS DOUBLE) * {sc})"
        " AS DECIMAL(38,0)) AS p, "
        "CAST(CASE WHEN j = i THEN"
        f" FLOOR(CAST(element_at(__v, i + 1) AS DOUBLE) * {sc}) END"
        " AS DECIMAL(38,0)) AS sv))))"
    )
    exploded = (df.select(F.col(vec_col).alias("__v"))
                .select(F.explode(F.expr(terms)).alias("t"))
                .select("t.i", "t.j", "t.p", "t.sv"))
    return (exploded.groupBy("i", "j")
            .agg(F.sum("p").alias("p"), F.sum("sv").alias("sv"),
                 F.count(F.lit(1)).cast("bigint").alias("n")))


def gram_state_merge(states: DataFrame) -> DataFrame:
    """Fold a UNION of gram states: element-wise DECIMAL sums per
    (i, j) cell — exact, order-free, batch-invariant."""
    return (states.groupBy("i", "j")
            .agg(F.sum("p").alias("p"), F.sum("sv").alias("sv"),
                 F.sum("n").cast("bigint").alias("n")))


def gram_finalize(state: DataFrame, scale: float = 1e12) -> DataFrame:
    """Divide a gram state down to gram_matrix's (i, j, g, si, n)
    output — the read side of the streaming maintenance loop. The
    state is d(d+1)/2 rows; this is statistics-sized work."""
    return state.select(
        "i", "j",
        (F.col("p").cast("double") / F.lit(float(scale))).alias("g"),
        (F.col("sv").cast("double") / F.lit(float(scale))).alias("si"),
        "n")


def pca_train(df: DataFrame, vec_col: str, n_components: int,
              method: str = "fast") -> dict:
    """Distributed PCA fit: ONE pass builds the Gram matrix + dimension
    sums (:func:`gram_matrix`); the d x d covariance eigendecomposition
    runs driver-side (numpy eigh — d^2 model state, the kmeans-centroid
    pattern: the DATA never leaves the cluster, only the d(d+1)/2
    statistics do). Returns {mean, components (n_components x d, rows =
    leading eigenvectors), explained_variance, n} as plain lists.
    Eigenvector sign is fixed deterministically (largest-|coefficient|
    entry positive, ties to the lowest index)."""
    import numpy as np

    if n_components < 1:
        raise ValueError(f"n_components must be >= 1, got {n_components}")
    rows = gram_matrix(df, vec_col, method=method).collect()
    if not rows:
        raise ValueError("pca_train: no non-null vectors")
    d = max(r.j for r in rows) + 1
    if n_components > d:
        raise ValueError(f"n_components {n_components} > dimension {d}")
    # every (i, j) cell must carry the SAME count — a merged state that
    # mixed vector dimensions would disagree here, and n = rows[0].n
    # off an arbitrary cell would be nondeterministic (advisor finding;
    # _checked_vectors pins the dimension in-scan, this is the
    # belt-and-braces check for states merged from foreign shards)
    counts = {r.n for r in rows}
    if len(counts) != 1:
        raise ValueError("pca_train: per-cell counts disagree "
                         f"({sorted(counts)[:4]}...) — the gram state "
                         "mixes vector dimensions")
    n = rows[0].n
    g = np.zeros((d, d))
    s = np.zeros(d)
    for r in rows:
        g[r.i, r.j] = r.g
        g[r.j, r.i] = r.g
        if r.i == r.j:
            s[r.i] = r.si
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)     # ascending
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T             # (c, d)
    for ci in range(comps.shape[0]):     # deterministic sign
        a = np.argmax(np.abs(comps[ci]))
        if comps[ci, a] < 0:
            comps[ci] = -comps[ci]
    return {"mean": mu.tolist(), "components": comps.tolist(),
            "explained_variance": vals[order].tolist(), "n": int(n)}


def pca_project(df: DataFrame, id_col: str, vec_col: str,
                model: dict) -> DataFrame:
    """Project vectors onto a trained PCA basis: (id, pca) with
    pca[c] = dot(v - mean, components[c]) — the dimensionality-
    reduction / whitening-prep step ahead of clustering or semantic
    dedup. The model ships inside the Arrow batch closure (d x c
    doubles — broadcast-sized); numpy matmul per batch, no per-row
    Python."""
    import numpy as np

    w = np.asarray(model["components"], dtype=np.float64)  # (c, d)
    mu = np.asarray(model["mean"], dtype=np.float64)

    def project(batches):
        for pdf in batches:
            vs = pdf[vec_col]
            ok = vs.notna()
            out = pd.DataFrame({
                "id": pdf[id_col][ok],
                "pca": [r.tolist() for r in
                        (np.asarray(list(vs[ok]), dtype=np.float64) - mu)
                        @ w.T] if ok.any() else [],
            })
            yield out.rename(columns={"id": id_col})

    idt = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        project, f"{id_col} {idt}, pca array<double>")
