"""[EXTENSION] Event-analytics operators: ordered funnels and retention
cohorts — the queries a dbt events model exists to serve.

Both are pure DataFrame compositions (joins + aggregations, no UDFs) and
both define time as integer MICROSECONDS (``unix_micros``), so the DuckDB
oracles compare integers rather than engine-specific timestamp precisions
(the test parquet stores nanoseconds; Spark reads microseconds).

Scale: the funnel is ONE shuffle on user_id (step events only) plus one
tiny global aggregate — per-user funnel depth is a single expression-level
fold over the time-sorted step events, so the whole funnel is one job
regardless of step count (the previous design ran k join+count rounds).
Retention is two aggregations on (user) then (cohort, offset). All shuffle
keys are the natural ones; AQE handles the skewed-user case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..staging import staged


def funnel(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-sequence funnel: a user completes step i when an event of
    ``steps[i]`` occurs STRICTLY AFTER their completion time of step i-1
    (first-touch semantics: completion time = the earliest qualifying
    event). Returns (step, event_type, n_users) with step 1-indexed.

    Single-pass plan: filter to step events -> one groupBy(user_id)
    collecting the sorted (t, step) list -> a sequential fold computes the
    user's funnel depth (the first event completing the next incomplete
    step IS the earliest qualifying one, so the fold reproduces
    first-touch exactly) -> one conditional aggregation counts users at
    depth >= i. Per-user state is bounded by that user's STEP events only
    (non-step events never reach the shuffle); for pathological whale
    users, pre-aggregate or sample upstream.
    """
    if not steps:
        raise ValueError("funnel requires at least one step")
    k = len(steps)
    esc = lambda s: s.replace("\\", "\\\\").replace("'", "\\'")  # noqa: E731
    steps_arr = "array(" + ", ".join(f"'{esc(s)}'" for s in steps) + ")"
    ev = (
        df.select(
            F.col(user_col).alias("user_id"),
            F.unix_micros(F.col(ts_col)).alias("t_us"),
            F.col(type_col).alias("etype"),
        )
        .where(F.col("etype").isin(list(steps)))
    )
    # fold state: (d = completed depth, lt = completion time of step d);
    # events arrive time-ascending, so the first event matching the next
    # incomplete step (strictly after lt) is the earliest qualifying one
    depth_expr = (
        f"aggregate(array_sort(collect_list(struct(t_us, etype))),"
        f" named_struct('d', 0, 'lt', cast(0 as bigint)),"
        f" (acc, x) -> IF(acc.d < {k}"
        f"   AND x.etype = element_at({steps_arr}, acc.d + 1)"
        f"   AND (acc.d = 0 OR x.t_us > acc.lt),"
        f"   named_struct('d', acc.d + 1, 'lt', x.t_us), acc),"
        f" acc -> acc.d)"
    )
    per_user = ev.groupBy("user_id").agg(F.expr(depth_expr).alias("depth"))
    # coalesce: when no event matches any step, per_user is empty and
    # sum() over an empty frame is NULL — the funnel must report 0
    totals = per_user.agg(*[
        F.coalesce(F.sum((F.col("depth") >= i + 1).cast("bigint")),
                   F.lit(0).cast("bigint")).alias(f"s{i}")
        for i in range(k)
    ])
    stack = ", ".join(f"{i + 1}, '{esc(s)}', s{i}"
                      for i, s in enumerate(steps))
    return totals.selectExpr(
        f"stack({k}, {stack}) AS (step, event_type, n_users)"
    ).selectExpr("CAST(step AS INT) AS step", "event_type",
                 "CAST(n_users AS BIGINT) AS n_users")


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset: int | None = None,
) -> DataFrame:
    """Cohort retention: users grouped by first-activity day; for each
    (cohort_date, day_offset) the number of distinct cohort users active
    that day. Returns (cohort_date DATE, day_offset INT, n_users BIGINT);
    day 0 row counts the full cohort."""
    # integer division (Spark `div` == DuckDB `//` for positives): a
    # double-division + cast would ROUND in DuckDB but truncate in Spark
    ev = df.select(
        F.col(user_col).alias("user_id"),
        F.expr(f"unix_micros(`{ts_col}`) div 86400000000").alias("day_idx"),
    )
    first = ev.groupBy("user_id").agg(F.min("day_idx").alias("cohort_idx"))
    joined = (
        ev.join(first, on="user_id")
        .select(
            "user_id", "cohort_idx",
            (F.col("day_idx") - F.col("cohort_idx")).cast("int")
            .alias("day_offset"),
        )
        .distinct()
    )
    if max_offset is not None:
        joined = joined.where(F.col("day_offset") <= max_offset)
    return (
        joined.groupBy("cohort_idx", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"),
                       F.col("cohort_idx").cast("int")).alias("cohort_date"),
            "day_offset",
            F.col("n_users").cast("bigint").alias("n_users"),
        )
    )


def triangle_count(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    per_node: bool = False,
) -> DataFrame:
    """Distributed triangle counting over an UNDIRECTED graph given as an
    edge list (direction and duplicates ignored; self-loops dropped) —
    with connected_components (labeling) and pagerank (ranking) this
    completes the graph-analytics family: triangles drive clustering
    coefficients, community density, and spam/bot detection on link
    graphs.

    Algorithm: degree ORIENTATION (the compact-forward / MPS pattern) —
    every undirected edge is directed from the endpoint of lower
    (degree, id) rank to the higher, turning the graph into a DAG where
    each triangle {a,b,c} appears EXACTLY ONCE as wedge a->b, a->c
    closed by b->c (a = the rank-minimum). Two self-joins on the
    oriented edge table count it:

        wedges  = oriented(a,b) JOIN oriented(a,c) ON a, b < c
        closed  = wedges JOIN oriented(b,c)

    Scale posture: orientation bounds every node's out-degree by
    O(sqrt(m)) on any graph (high-degree hubs point INTO the wedge
    apexes, never out), so the wedge join mass is sum(outdeg^2) <=
    m^1.5 worst-case instead of sum(deg^2) — the standard defense
    against power-law hubs. The plan is two equi-joins + one aggregate:
    oriented edges shuffle once on the apex for the wedge join and the
    closing join is another equi-join on (b, c); no all-pairs, no
    iteration, no driver state. Exactly SQL-expressible, so the battery
    entry carries a full-strength oracle (identical SQL on DuckDB).

    ``per_node=False`` returns one row (n_triangles bigint);
    ``per_node=True`` returns (id, n_triangles) counting each node's
    incident triangles (sums to 3x the total).
    """
    e = (edges.select(F.col(src_col).cast("bigint").alias("u"),
                      F.col(dst_col).cast("bigint").alias("v"))
         .where(F.col("u").isNotNull() & F.col("v").isNotNull()
                & (F.col("u") != F.col("v"))))
    # canonical undirected form, then true degrees
    und = (e.select(F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v")).distinct())
    deg = (und.select(F.col("u").alias("id"))
           .unionAll(und.select(F.col("v").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))
    # orient by (degree, id): lower rank -> higher rank
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    ranked = und.join(du, on="u").join(dv, on="v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    # oriented edge a->b carries b's degree so the wedge stage can order
    # leg pairs by the SAME (deg, id) rank without re-joining degrees
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du"))
        .alias("db"))
    # each unordered leg pair {b, c} is emitted ONCE with b ranked below
    # c — exactly the direction of the oriented closing edge b->c, so the
    # closing equi-join sees each candidate triangle once
    o1 = oriented.select("a", "b", "db")
    o2 = oriented.select("a", F.col("b").alias("c"),
                         F.col("db").alias("dc"))
    rank_lt = (F.col("db") < F.col("dc")) | (
        (F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    wedges = o1.join(o2, on="a").where(rank_lt).select("a", "b", "c")
    closed = wedges.join(
        oriented.select(F.col("a").alias("b"), F.col("b").alias("c")),
        on=["b", "c"])
    if not per_node:
        return closed.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    stacked = (closed.select(F.col("a").alias("id"))
               .unionAll(closed.select(F.col("b").alias("id")))
               .unionAll(closed.select(F.col("c").alias("id"))))
    return (deg.select("id").join(
        stacked.groupBy("id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_triangles")),
        on="id", how="left")
        .select("id", F.coalesce("n_triangles", F.lit(0))
                .cast("bigint").alias("n_triangles")))


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Distributed PageRank over a directed edge list — the iterative
    graph-RANKING counterpart of dedup.connected_components (labeling):
    rank influential suppliers/hosts/documents from link structure.

    INTEGER semantics for cross-engine bit-exactness: ranks are BIGINTs
    at ``scale`` (rank 1.0 == ``scale``), per-edge contributions use
    floor division (rank div outdegree), and the update is
    ``rank' = scale*(100-damping)/100 + damping*incoming/100`` in
    integer arithmetic — no float summation order, no decimal-scale
    divergence, so a k-iteration SQL unroll on any engine reproduces
    the values exactly. Dangling nodes (no out-edges) keep receiving
    the teleport term; their rank is not redistributed (documented
    variant — redistribution needs a global aggregate per round).

    Overflow bound: a node's incoming SUM of contributions is bounded
    by the total rank mass <= scale * n_nodes, and the update forms the
    intermediate ``damping_pct * inc`` before dividing by 100 — so
    BIGINT is safe while n_nodes * scale * damping_pct < 2^63; at the
    default scale that is ~10^5 nodes; drop ``scale`` for larger
    graphs. The bound is ENFORCED at runtime: the node count is already
    materialized (one metadata-sized count on the checkpointed
    ``nodes``), and a graph past the bound raises ValueError instead of
    wrapping silently under non-ANSI BIGINT overflow.

    Scale shape: the edge table is deduped, pre-joined with outdegree
    ONCE, and localCheckpointed — each iteration is then one
    (edges x ranks) equi-join on src (ranks is the node-sized small
    side) plus one groupBy(dst) partial-aggregated sum. Lineage is
    capped per round via localCheckpoint; superseded rounds and the
    edge and node checkpoints are released before returning."""
    if not 0 < damping_pct < 100:
        raise ValueError("damping_pct must be in (0, 100)")
    e = edges.select(F.col(src_col).cast("bigint").alias("src"),
                     F.col(dst_col).cast("bigint").alias("dst")) \
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull()) \
        .distinct()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    with staged() as st:
        e2 = st.checkpoint(e.join(outdeg, on="src"))
        nodes = st.checkpoint(e.select(F.col("src").alias("id"))
                              .unionByName(e.select(F.col("dst").alias("id")))
                              .distinct())
        # Overflow guard (see docstring): a node's incoming sum is bounded by
        # the total rank mass <= n_nodes * scale, and the update computes the
        # intermediate product damping_pct * inc BEFORE the //100 — so the
        # binding constraint is n_nodes * scale * damping_pct <= 2^63-1.
        # Past it, Spark's BIGINT arithmetic either wraps silently (non-ANSI
        # sum) or aborts mid-job (ANSI multiply) — raise up front instead.
        # The count is metadata-sized (nodes is already checkpointed).
        n_nodes = nodes.count()
        if n_nodes * scale * damping_pct > 2**63 - 1:
            raise ValueError(
                f"pagerank overflow risk: n_nodes={n_nodes} * scale={scale} "
                f"* damping_pct={damping_pct} exceeds BIGINT range; lower "
                f"`scale` (e.g. scale="
                f"{max(1, (2**63 - 1) // max(n_nodes * damping_pct, 1))} "
                f"or below)")
        base = scale * (100 - damping_pct) // 100
        ranks = st.checkpoint(
            nodes.withColumn("rank", F.lit(scale).cast("bigint")))
        for _ in range(iterations):
            incoming = (
                e2.join(ranks.withColumnRenamed("id", "src"), on="src")
                .select("dst", F.expr("rank div odeg").alias("contrib"))
                .groupBy("dst").agg(F.sum("contrib").alias("inc"))
            )
            new_ranks = st.checkpoint(
                nodes.join(incoming.withColumnRenamed("dst", "id"),
                           on="id", how="left")
                .select("id",
                        (F.lit(base)
                         + F.expr(f"{damping_pct} * coalesce(inc, 0L)"
                                  " div 100"))
                        .cast("bigint").alias("rank")))
            st.release(ranks)
            ranks = new_ranks
        return st.keep(ranks)
