"""[EXTENSION] Deduplication operators for large-scale training-data
pipelines (SURVEY §7.1 M6; not present in the reference, which is SQL
pass-through only).

All operators are table-in/table-out DataFrame transforms built from JVM-side
higher-order functions (transform/aggregate/array_*) — no Python UDFs in the
hot path — so they whole-stage-codegen and scale with executors.

Scale notes per operator:
- exact:   one shuffle on the content hash (groupBy), then a semi-join back.
- minhash: signatures are computed scan-side (no shuffle); the only shuffle
           is the band-bucket explode + self-join, whose fan-out is bounded
           by (bands × docs). Candidate verification re-joins shingle sets
           only for candidate pairs (tiny compared to all-pairs).
- simhash: one 64-bit signature per doc computed scan-side; candidates via
           banded chunk equality (pigeonhole: hamming ≤ 3 over 4 chunks
           guarantees one equal chunk).
- ngram_jaccard: exact; explodes distinct shingles (shuffle ∝ corpus token
           count) — the correctness baseline for minhash, quadratic only
           within shared-shingle groups.
"""

from __future__ import annotations

import re
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..staging import staged


def _spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition compute-heavy inputs: a small parquet file arrives as one
    partition, which would serialize per-row hashing onto one core. One cheap
    round-robin shuffle before an expensive map is the right trade at every
    scale (at 100 TB the input already has thousands of splits and this is a
    no-op)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def _content_fingerprint(content_cols: list[str]) -> F.Column:
    """md5 over the content columns. Multi-column content joins on the unit
    separator (\\x1f) so ("ab","c") and ("a","bc") cannot collide; a single
    column hashes as-is (concat_ws of one value is the value)."""
    return F.md5(F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in content_cols]
    ))


def exact_dedup(df: DataFrame, id_col: str, content_cols: list[str]) -> DataFrame:
    """Keep, per exact-content group, the row with the smallest id.

    hash-groupBy pattern: md5 over the concatenated content defines the
    group; min(id) picks the canonical survivor deterministically.
    """
    fp = _content_fingerprint(content_cols)
    with_fp = df.withColumn("__fp", fp)
    keepers = with_fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return (
        with_fp.join(keepers, on=["__fp", id_col], how="left_semi")
        .drop("__fp")
    )


def exact_dup_groups(df: DataFrame, id_col: str, content_cols: list[str]) -> DataFrame:
    """Duplicate-group report: (fingerprint, n_dups, keeper_id) for groups
    with >1 member."""
    fp = _content_fingerprint(content_cols)
    return (
        df.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keeper_id"),
        )
        .where(F.col("n_dups") > 1)
    )


# --------------------------------------------------------------------------
# shingling (shared)
# --------------------------------------------------------------------------

def _shingle_expr(text_col: str, k: int) -> str:
    return (
        f"array_distinct(transform("
        f"sequence(1, greatest(length({text_col}) - {k} + 1, 1)),"
        f" i -> substring({text_col}, i, {k})))"
    )


def char_shingles(text_col: str, k: int = 5) -> F.Column:
    """Distinct character k-grams, computed with JVM higher-order functions."""
    return F.expr(_shingle_expr(text_col, k))


def word_ngrams(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-grams (space-joined). NOTE: the token split sits
    inside the per-gram lambda body, which higher-order functions evaluate
    PER ELEMENT — prefer staging the split into its own projection and
    calling :func:`word_ngrams_from_tokens` on the stored column when the
    gram count per doc is non-trivial."""
    toks = f"split(trim(lower({text_col})), '\\\\s+')"
    return F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(size({toks}) - {n} + 1, 1)),"
        f" i -> array_join(slice({toks}, i, {n}), ' ')))"
    )


def word_ngrams_from_tokens(toks_col: str, n: int = 3) -> F.Column:
    """Distinct word n-grams from an already-staged token array column —
    the lambda body references a cheap attribute instead of re-running
    the split once per gram."""
    return F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(size({toks_col}) - {n} + 1, 1)),"
        f" i -> array_join(slice({toks_col}, i, {n}), ' ')))"
    )


def _tokens_col(text_col: str) -> F.Column:
    return F.expr(f"split(trim(lower({text_col})), '\\\\s+')")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def _perm_constants(num_perm: int) -> list[int]:
    """Fixed pseudo-random 63-bit constants (seeded, reproducible)."""
    import random

    rng = random.Random(0x5EED)
    return [rng.getrandbits(63) for _ in range(num_perm)]


def minhash_signature_from_hashes(hashes_col: str, num_perm: int = 64) -> F.Column:
    """num_perm minhash values from pre-hashed shingles. The permutation
    family is XOR with fixed constants — a 64-bit bijection per permutation,
    so min-over-XORed-hashes is a valid minwise family at ~1/num_perm the
    hashing cost of hashing per (shingle, perm). XOR cannot overflow, so this
    is safe under ANSI mode. Pure codegen — no shuffle.

    Shaped as ONE fold over the hash array (element-wise least against all
    permutations) so the hash array is consumed exactly once structurally —
    a transform-per-permutation shape invites CollapseProject to inline the
    upstream xxhash pass into every lambda (a measured 64x blowup)."""
    consts = ", ".join(f"{r}L" for r in _perm_constants(num_perm))
    lmax = 9223372036854775807
    return F.expr(
        f"aggregate({hashes_col},"
        f" array_repeat({lmax}L, {num_perm}),"
        f" (acc, h) -> zip_with(acc, array({consts}),"
        f" (a, r) -> least(a, h ^ r)))"
    )


def minhash_signature(shingles_col: str, num_perm: int = 64) -> F.Column:
    """num_perm minhash values straight from a shingle array (hashes each
    shingle once, inline)."""
    consts = ", ".join(f"{r}L" for r in _perm_constants(num_perm))
    return F.expr(
        f"transform(array({consts}),"
        f" r -> array_min(transform(transform({shingles_col},"
        f" s -> xxhash64(s)), h -> h ^ r)))"
    )


def auto_bands(num_perm: int, threshold: float) -> int:
    """Pick the band count whose S-curve midpoint (1/b)^(r/num_perm-style)
    sits closest below the target threshold: for bands b (rows r =
    num_perm/b), the detection midpoint is t* = (1/b)^(1/r). Choosing
    t* <= threshold keeps recall high at the threshold; among those the
    largest r (fewest false candidates) wins."""
    best = None
    for b in (2, 4, 8, 16, 32, 64):
        if b > num_perm or num_perm % b:
            continue
        r = num_perm // b
        t_star = (1.0 / b) ** (1.0 / r)
        # prefer midpoints at/below the threshold (recall-first), closest
        score = (t_star > threshold, abs(threshold - t_star))
        if best is None or score < best[0]:
            best = (score, b)
    return best[1]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_perm: int = 64,
    bands: int | None = 16,
    threshold: float = 0.8,
    verify: bool = True,
    collapse_identical: bool = True,
    expand_members: bool = True,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Near-duplicate pairs via MinHash banding, optionally verified with the
    exact Jaccard of the shingle sets. Returns (id_a, id_b, jaccard) with
    id_a < id_b.

    shingle -> minhash -> band -> bucket-join, then verification re-computes
    exact Jaccard only for candidates (array_intersect size; the union
    size follows as |A|+|B|-|A∩B| on the distinct shingle arrays).

    ``collapse_identical`` (default on) is the heavy-bucket guard: a corpus
    with m byte-identical boilerplate docs otherwise puts all m ids in the
    same band buckets and the self-join emits m²/2 candidate rows before
    verification sees any of them. Docs are first grouped by TEXT identity
    (md5 + length, collision-hardened like clean_corpus's exact-dedup key
    — one cheap scan, no shingling): equal texts mean equal shingle sets,
    hence an identical minhash signature AND identical exact Jaccard
    against every other doc, so running banding+verification over one
    representative per group is EXACTLY output-equivalent; member pairs
    are rejoined afterwards (cross-group pairs inherit the verified rep
    Jaccard, intra-group pairs are 1.0 by definition). The band join then
    scales with DISTINCT content, not raw row count. With the default
    ``expand_members=True`` output cardinality is unchanged — all true
    member pairs are still emitted, which is the pair operator's
    historical contract.

    ``expand_members=False`` (requires ``collapse_identical``) is the
    100 TB output shape: the collapse guard fixed the band-join COMPUTE
    blowup, but an m-copy boilerplate group still expands to m²/2 OUTPUT
    rows — a million-copy doc makes the pair set itself infeasible. Group
    mode instead returns the tuple ``(rep_pairs, membership)``:
    ``rep_pairs`` = the verified (id_a, id_b, jaccard) over group
    REPRESENTATIVES only, ``membership`` = (id, rep, gsize) for every
    input doc — linear in the corpus. The expanded pair set is recoverable
    exactly via :func:`expand_group_pairs` (equivalence-tested);
    cluster-level consumers should instead feed
    :func:`group_pairs_to_edges` (rep pairs ∪ member→rep edges, also
    linear) into connected_components / leakage_safe_split — identical
    components, no quadratic blowup.

    The returned pair set (and the membership table) is pinned with
    ``localCheckpoint`` (executor block storage, NOT a reliable
    checkpoint) and owned by the caller: free it with
    ``staging.release`` or hold it in a ``staged()`` block once it
    is consumed. Every intermediate this function pins is released before
    it returns, also when it raises. Under dynamic allocation or executor
    loss the checkpoint becomes unrecoverable and must be recomputed;
    for long-lived sessions on preemptible clusters, write the result to
    a table instead of holding the handle.
    """
    if not expand_members and not collapse_identical:
        raise ValueError(
            "expand_members=False returns (rep_pairs, membership), which "
            "requires collapse_identical=True to define the groups."
        )
    if bands is None:
        bands = auto_bands(num_perm, threshold)
    rows_per_band = num_perm // bands
    assert rows_per_band * bands == num_perm, "bands must divide num_perm"

    texts = _spread(df.select(F.col(id_col).alias("id"),
                              F.col(text_col).alias("text")))

    with staged() as st:
        mapping = None
        if collapse_identical:
            # one cheap hash scan — no shingling until the representatives;
            # NULL texts group together (null_group=True) because the
            # signature path emits pairs for them (the '' shingle floor), so
            # collapse must too for exact output equivalence
            mapping = st.cache(text_identity_groups(texts, "id", "text"))
            work = texts.join(
                mapping.where(F.col("id") == F.col("rep")).select("id"),
                on="id", how="left_semi")
        else:
            work = texts
        sig = (
            work
            .withColumn("h1", F.expr(
                f"transform({_shingle_expr('text', k)}, s -> xxhash64(s))"
            ))
            .withColumn("sig", minhash_signature_from_hashes("h1", num_perm))
            .select("id", "sig")
        )

        # the self-join below scans `banded` twice; persisting the (tiny:
        # docs × bands rows) band table makes the expensive shingle+signature
        # pipeline run exactly once
        banded = st.cache(_bands_from_sigs(sig, bands, rows_per_band))

        left = banded.alias("a")
        right = banded.alias("b")
        cand = (
            left.join(
                right,
                on=[F.col("a.band") == F.col("b.band"),
                    F.col("a.bh") == F.col("b.bh"),
                    F.col("a.id") < F.col("b.id")],
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        if not verify:
            rep_pairs = cand.withColumn("jaccard", F.lit(None).cast("double"))
        else:
            # candidates are tiny relative to the corpus; persist so the
            # broadcast id-set below doesn't re-run the signature+banding
            # pipeline
            cand = st.cache(cand)

            # verification: shingle sets are recomputed ONLY for candidate
            # docs (semi-join on the candidate id set before the expensive
            # shingling, so at corpus scale the exact-Jaccard pass touches a
            # tiny fraction)
            cand_ids = (
                cand.select(F.col("id_a").alias("id"))
                .unionByName(cand.select(F.col("id_b").alias("id")))
                .distinct()
            )
            # persist: sh feeds BOTH sides of the pair join below — without the
            # cache its subtree (scan + broadcast semi-join + the expensive
            # per-row shingle projection) executes twice, once per side (the
            # ngram_jaccard_pairs garr precedent; measured ~1s of the verify
            # stage at sf0.1)
            sh = st.cache(
                work.join(F.broadcast(cand_ids), on="id", how="left_semi")
                .select("id", char_shingles("text", k).alias("sh")))
            pairs = (
                cand.join(sh.withColumnRenamed("sh", "sh_a"),
                          cand.id_a == sh.id).drop("id")
                .join(sh.withColumnRenamed("sh", "sh_b"),
                      cand.id_b == sh.id).drop("id")
                .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            )
            # |A∪B| = |A|+|B|-|A∩B| on the already-distinct shingle arrays:
            # identical integers (so an identical double), without building
            # the union array — half the per-pair set work
            jac = (F.col("inter")
                   / (F.size("sh_a") + F.size("sh_b") - F.col("inter")))
            rep_pairs = (
                pairs.withColumn("jaccard", jac.cast("double"))
                .where(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard")
            )

        if not expand_members:
            # group mode: rep-level pairs + the linear membership table; the
            # m²/2 member expansion never materializes
            return (rep_pairs.localCheckpoint(eager=True),
                    mapping.select("id", "rep", "gsize")
                    .localCheckpoint(eager=True))

        if mapping is not None:
            rep_pairs = expand_group_pairs(rep_pairs, mapping, verified=verify)
        return rep_pairs.localCheckpoint(eager=True)  # small: true pairs only


def text_identity_groups(df: DataFrame, id_col: str, text_col: str,
                         null_group: bool = True) -> DataFrame:
    """(id, rep, gsize) text-identity groups — the heavy-bucket
    pre-collapse table: rep = the group's minimum id, gsize = member
    count. The key is (md5, length, xxhash64): md5 collisions are
    constructible (adversarial corpora), but a simultaneous md5 AND
    xxhash64 collision at equal length is not — without the second hash,
    two crafted distinct texts would merge into one group and surface as
    fake Jaccard-1.0 pairs. NULL text uses sentinels (plain equi-joins
    drop NULL keys; a 32-hex md5 can't collide with the sentinel).

    ``null_group``: True (default) groups NULL-text docs together —
    correct for BOTH gram flavors here: char-shingle minhash's '' floor
    and the word-n-gram floor ([NULL] gram set, exact J=1 between NULL
    docs) each make NULL copies truly pair, so collapsing them preserves
    components exactly (verified by the planted-NULL joint_dedup test).
    False leaves each NULL-text doc a SINGLETON (id == rep, gsize 1) —
    for downstream operators whose NULL rows genuinely produce no
    pairable features."""
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.md5(text_col), F.lit("__null__")).alias("skh"),
        F.coalesce(F.length(text_col), F.lit(-1)).alias("slen"),
        F.xxhash64(text_col).alias("sxh"),
    )
    groups = keyed.groupBy("skh", "slen", "sxh").agg(
        F.min("id").alias("rep"),
        F.count(F.lit(1)).cast("bigint").alias("gsize"),
    )
    mapping = keyed.join(groups, on=["skh", "slen", "sxh"])
    if not null_group:
        mapping = mapping.select(
            "id",
            F.when(F.col("skh") == "__null__", F.col("id"))
            .otherwise(F.col("rep")).alias("rep"),
            F.when(F.col("skh") == "__null__", F.lit(1).cast("bigint"))
            .otherwise(F.col("gsize")).alias("gsize"),
        )
    else:
        mapping = mapping.select("id", "rep", "gsize")
    return mapping


def expand_group_pairs(rep_pairs: DataFrame, membership: DataFrame,
                       verified: bool = True) -> DataFrame:
    """Expand group-mode minhash output back to the full member-level pair
    set — EXACTLY the pairs ``expand_members=True`` emits. Cross-group
    pairs inherit the verified rep Jaccard (equal texts => equal shingle
    sets => equal Jaccard vs every other doc); intra-group pairs are
    byte-identical, Jaccard 1.0 (the shingle floor guarantees a non-empty
    set even for ''), or NULL when the rep pairs are unverified
    (``verified=False``). Quadratic in duplicate-group size BY REQUEST —
    cluster-level consumers should use :func:`group_pairs_to_edges`."""
    ma = membership.select(F.col("rep").alias("id_a"), F.col("id").alias("xa"))
    mb = membership.select(F.col("rep").alias("id_b"), F.col("id").alias("xb"))
    cross = (
        rep_pairs.join(ma, on="id_a").join(mb, on="id_b")
        .select(F.least("xa", "xb").alias("id_a"),
                F.greatest("xa", "xb").alias("id_b"), "jaccard")
    )
    intra_src = membership.where(F.col("gsize") >= 2)
    if verified:
        intra_jac = F.lit(1.0).cast("double")
    else:
        intra_jac = F.lit(None).cast("double")
    ia = intra_src.select("rep", F.col("id").alias("xa"))
    ib = intra_src.select("rep", F.col("id").alias("xb"))
    intra = (
        ia.join(ib, on="rep")
        .where(F.col("xa") < F.col("xb"))
        .select(F.col("xa").alias("id_a"), F.col("xb").alias("id_b"),
                intra_jac.alias("jaccard"))
    )
    return cross.unionByName(intra)


def group_pairs_to_edges(rep_pairs: DataFrame,
                         membership: DataFrame) -> DataFrame:
    """Group-mode minhash output as a LINEAR edge list for clustering:
    rep-level pairs ∪ (member, rep) edges for every non-rep member.
    connected_components over these edges yields components IDENTICAL to
    components over the expanded member-level pair set (every member is
    connected to its rep, reps carry the cross-group links — same
    transitive closure), with O(pairs + members) edges instead of
    O(pairs + Σ gsize²/2). This is what leakage_safe_split / keep-best
    consumers should feed CC at scale."""
    member_edges = (
        membership.where(F.col("id") != F.col("rep"))
        .select(F.least("id", "rep").alias("id_a"),
                F.greatest("id", "rep").alias("id_b"))
    )
    # no distinct(): the two sides are disjoint (rep-pair endpoints are
    # both reps; every member edge has a non-rep endpoint) and each is
    # duplicate-free (pair generators dropDuplicates; one row per
    # member) — a distinct here would add a full shuffle of the edge
    # list on exactly the linear-scale path this function exists for,
    # and connected_components dedups its edge input anyway
    return (rep_pairs.select("id_a", "id_b")
            .unionByName(member_edges))


def _bands_from_sigs(sig: DataFrame, bands: int,
                     rows_per_band: int) -> DataFrame:
    """(id, band, bh) rows from an (id, sig) signature table — THE band
    expression, shared by minhash_lsh_pairs and minhash_band_table: the
    incremental path's oracle-validity argument ('banding recall on the
    cross slice is a subset of the measured full-pair recall') requires
    both paths to band IDENTICALLY, so there is exactly one copy. Band
    rows carry (id, band, band-hash) ONLY — wide shingle arrays never
    travel through the downstream joins."""
    return sig.select(
        "id",
        F.explode(F.expr(
            f"transform(sequence(0, {bands - 1}),"
            f" b -> named_struct('band', b, 'bh',"
            f" xxhash64(array_join(transform("
            f"slice(sig, b * {rows_per_band} + 1, {rows_per_band}),"
            f" x -> cast(x as string)), ','))))"
        )).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_band_table(df: DataFrame, id_col: str, text_col: str,
                       k: int = 5, num_perm: int = 64,
                       bands: int = 16) -> DataFrame:
    """The (id, band, bh) LSH band table for a corpus — the INDEX an
    incremental dedup admission flow maintains: materialize it once for
    the history, append each admitted batch, and new batches join against
    it instead of re-shingling the corpus (see
    :func:`minhash_incremental_pairs`).

    The table carries its build parameters as a literal ``mh_params``
    column (``k=..,perm=..,bands=..``) — band hashes built with different
    (k, num_perm, bands) NEVER collide meaningfully, so probing a
    mismatched index silently admits every duplicate; the stamp survives
    a parquet round-trip with the index and lets probe time assert the
    match instead."""
    rows_per_band = num_perm // bands
    assert rows_per_band * bands == num_perm, "bands must divide num_perm"
    texts = _spread(df.select(F.col(id_col).alias("id"),
                              F.col(text_col).alias("text")))
    sig = (
        texts
        .withColumn("h1", F.expr(
            f"transform({_shingle_expr('text', k)}, s -> xxhash64(s))"))
        .withColumn("sig", minhash_signature_from_hashes("h1", num_perm))
        .select("id", "sig")
    )
    return _bands_from_sigs(sig, bands, rows_per_band).withColumn(
        "mh_params", F.lit(_mh_params_stamp(k, num_perm, bands)))


_IDENT_PART = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _quote_table_ident(table: str) -> str:
    """Backtick-quote a (possibly db-qualified) table identifier for safe
    interpolation into DDL text. STRICT: each part must be a plain
    [A-Za-z_][A-Za-z0-9_]* identifier — the same functions also pass the
    raw name to saveAsTable/spark.table/tableExists, which cannot parse
    exotic names, so blessing anything broader here would split the
    accepted name set mid-function. A hostile or malformed name fails
    here, before any SQL splice."""
    parts = table.split(".")
    for p in parts:
        if not _IDENT_PART.match(p):
            raise ValueError(f"invalid table identifier: {table!r}")
    return ".".join(f"`{p}`" for p in parts)


_STAMP_SAFE = re.compile(r"^[A-Za-z0-9=,._:-]+$")


def _quote_prop_value(value: str) -> str:
    """Validate a TBLPROPERTIES value for safe single-quoted
    interpolation. Internal stamps are [A-Za-z0-9=,._:-]; anything else
    (quotes, backslashes) is rejected rather than escaped — Spark's
    literal escaping rules vary with the ANSI/escapedStringLiterals
    confs, so a whitelist is the only portable guarantee."""
    if not _STAMP_SAFE.match(value):
        raise ValueError(f"unsafe TBLPROPERTIES value: {value!r}")
    return value


def minhash_index_save(bands_df: DataFrame, table: str,
                       buckets: int = 64, mode: str = "overwrite") -> None:
    """Persist a band table as a (band, bh)-BUCKETED index table — the
    durable form of the admission index. Bucketing on the probe-join
    keys means a probe against the stored index shuffles ONLY the batch
    side (Spark plans no Exchange over a bucketed scan whose bucket
    columns equal the join keys) — the large-batch complement to
    minhash_incremental_pairs' ``broadcast_new=True`` (small batches
    broadcast; huge batches probe the bucketed table and pay one
    batch-sized shuffle; the index itself is shuffled exactly once, at
    write time). ``mode="append"`` admits an increment's band rows into
    the existing index (the bucket spec must match — Spark validates).

    At 100 TB: the index is ~bands rows x 24 bytes per document —
    orders of magnitude smaller than the corpus — and this table is the
    ONLY thing a steady-state admission pipeline reads per batch."""
    spark = bands_df.sparkSession
    qtable = _quote_table_ident(table)
    # an APPEND must match the existing index's parameters BEFORE any
    # bytes land: writing a mixed-parameter segment both corrupts the
    # index (near-zero collisions for that segment -> silent admission)
    # and would invalidate every already-loaded handle's verified-stamp
    # memo. The incoming batch's distinct() is over the BATCH only.
    new_stamps = [r[0] for r in
                  bands_df.select("mh_params").distinct().collect()]
    if mode == "append" and spark.catalog.tableExists(table):
        props = {r["key"]: r["value"] for r in
                 spark.sql(f"SHOW TBLPROPERTIES {qtable}").collect()}
        existing = props.get("mh_params")
        bad = [s for s in new_stamps if existing and s != existing]
        if len(new_stamps) != 1 or bad:
            raise ValueError(
                f"refusing to append band rows with params "
                f"{sorted(new_stamps)!r} to index {table!r} built with "
                f"{existing!r} — mixed-parameter segments silently admit "
                f"every duplicate. Rebuild the index with the new "
                f"parameters instead.")
    (bands_df.write.format("parquet").mode(mode)
     .bucketBy(buckets, "band", "bh").sortBy("band", "bh")
     .saveAsTable(table))
    # stamp the table with its (single) mh_params so minhash_index_load
    # can pre-verify from metadata — probes then skip the full-index
    # distinct() aggregate entirely (guarded appends above keep the
    # property truthful for the table's whole life)
    stamps = [r[0] for r in
              spark.table(table).select("mh_params").distinct().collect()]
    if len(stamps) == 1:
        spark.sql(f"ALTER TABLE {qtable} SET TBLPROPERTIES "
                  f"('mh_params' = '{_quote_prop_value(stamps[0])}')")
    else:
        spark.sql(f"ALTER TABLE {qtable} UNSET TBLPROPERTIES "
                  f"IF EXISTS ('mh_params')")


def minhash_index_load(spark: SparkSession, table: str) -> DataFrame:
    """Read a saved band index back as the hist_bands= input of
    :func:`minhash_incremental_pairs`. When the table carries the
    ``mh_params`` TBLPROPERTIES stamp (set by minhash_index_save), the
    stamp is pre-verified here from pure metadata — per-batch probes
    then skip the full-index distinct() scan."""
    df = spark.table(table)
    props = {r["key"]: r["value"]
             for r in spark.sql(
                 f"SHOW TBLPROPERTIES {_quote_table_ident(table)}"
             ).collect()}
    stamp = props.get("mh_params")
    if stamp is not None:
        _VERIFIED_STAMPS[df] = {stamp}
    return df


def _mh_params_stamp(k: int, num_perm: int, bands: int) -> str:
    return f"k={k},perm={num_perm},bands={bands}"


# per-DataFrame-object memo of stamps already proven uniform: the
# steady-state admission loop holds ONE loaded index DataFrame and probes
# it every batch — without this, each probe re-ran a full-index
# distinct() aggregate (a scan+shuffle of the entire history per batch,
# counter to the flat O(batch) probe goal). WeakKey: dropping the
# DataFrame drops its memo entry.
_VERIFIED_STAMPS: "weakref.WeakKeyDictionary[DataFrame, set]" = \
    weakref.WeakKeyDictionary()


def _check_band_params(hist_bands: DataFrame, k: int, num_perm: int,
                       bands: int, revalidate: bool = False) -> None:
    """Assert a precomputed band table was built with the same
    (k, num_perm, bands) as this probe. A mismatch yields near-zero band
    collisions — duplicates silently admitted — so it must be an error,
    not a quiet recall collapse. Validation runs ONCE per DataFrame
    object (memoized; pre-seeded from table metadata by
    minhash_index_load).

    STALENESS CAVEAT: the memo (and the TBLPROPERTIES pre-seed) vouches
    only for rows written through minhash_band_table/minhash_index_save —
    rows INSERTed into the table by an external job keep the stale stamp
    and are not re-checked. If the underlying table can be written
    out-of-band, pass ``revalidate=True`` (re-runs the distinct() scan
    and refreshes the memo) or reload the handle via
    minhash_index_load after the external write."""
    expected = _mh_params_stamp(k, num_perm, bands)
    if "mh_params" not in hist_bands.columns:
        raise ValueError(
            "hist_bands has no mh_params column — build it with "
            "minhash_band_table (which stamps its parameters) so the "
            f"probe can verify it matches {expected!r}."
        )
    known = None if revalidate else _VERIFIED_STAMPS.get(hist_bands)
    if known is not None:
        stamps = sorted(known)
    else:
        # check every DISTINCT stamp (tiny aggregate), not one arbitrary
        # row: an index assembled from mixed-parameter segments (partial
        # rebuild drift — exactly what this guard exists for) would pass
        # or fail nondeterministically under a .first() probe
        stamps = [r[0] for r in
                  hist_bands.select("mh_params").distinct().collect()]
        try:
            _VERIFIED_STAMPS[hist_bands] = set(stamps)
        except TypeError:
            pass  # unweakrefable wrapper: fall back to per-call checks
    bad = [s for s in stamps if s != expected]
    if bad:
        raise ValueError(
            f"hist_bands contains segments built with {sorted(bad)!r} but "
            f"this probe uses {expected!r}; band hashes from different "
            f"parameters never collide meaningfully, so every duplicate "
            f"in those segments would be silently admitted. Rebuild the "
            f"index or pass matching k/num_perm/bands."
        )


def minhash_incremental_pairs(
    new_df: DataFrame,
    hist_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    verify: bool = True,
    hist_bands: DataFrame | None = None,
    broadcast_new: bool = True,
    max_broadcast_rows: int | None = 200_000,
    revalidate_bands: bool = False,
) -> DataFrame:
    """Incremental-ingest text near-dedup: the NEW batch's band table is
    joined against the HISTORY's only — admit increments without
    re-deduping the corpus (the text-side counterpart of
    similarity.cross_cosine_pairs). Returns (id_new, id_hist, jaccard)
    with exact shingle-set Jaccard >= ``threshold`` when ``verify``.

    Scale shape: per batch, shingling/signatures cost O(batch), never
    O(history); the join probes the history band table on (band, bh).
    Pass ``hist_bands`` (a materialized :func:`minhash_band_table` —
    maintained incrementally by appending each admitted batch's bands)
    so the history text is touched ONLY to verify candidates; without it
    the history band table is recomputed from ``hist_df`` each call.
    New-vs-new duplicates inside one batch are the ordinary
    :func:`minhash_lsh_pairs` over the (small) batch — compose both for
    full admission.

    ``broadcast_new`` pins the probe join's build side: True (default)
    BROADCASTS the new batch's band table, so the history index is
    streamed through the join without a shuffle — per-batch shuffle cost
    stays O(batch) no matter how large the index grows (the 10x probe
    measured per-batch wall creeping 6.3 -> 10.9s across 5 batches with
    the auto-planned join re-shuffling the growing index; broadcast
    holds it flat). Set False only when a single admission batch is too
    large to broadcast (then pre-bucket the stored index by (band, bh)
    so the shuffle happens once at write time instead of per probe).

    ``max_broadcast_rows`` guards the broadcast default: batches above
    this many DOCUMENTS (band rows = docs x bands, so the 200k-doc
    default caps the broadcast near 3.2M small rows at 16 bands) fall
    back to the auto-planned join instead of force-broadcasting a table
    that could OOM executors. The probe is a bounded limit(n+1) count
    (the embedding_cosine_pairs guardrail pattern), never a full batch
    scan; pass None to skip it when the caller asserts batch size.

    ``revalidate_bands`` forces the hist_bands parameter-stamp check to
    re-scan the index instead of trusting the per-handle memo — use it
    after an out-of-band write to the index table (the memo/TBLPROPERTIES
    pre-seed only vouches for rows written through minhash_index_save)."""
    if hist_bands is None:
        hist_bands = minhash_band_table(hist_df, id_col, text_col,
                                        k=k, num_perm=num_perm, bands=bands)
    else:
        _check_band_params(hist_bands, k, num_perm, bands,
                           revalidate=revalidate_bands)
    new_bands = minhash_band_table(new_df, id_col, text_col,
                                   k=k, num_perm=num_perm, bands=bands)
    if broadcast_new and max_broadcast_rows is not None:
        over = (new_df.select(F.col(id_col))
                .limit(max_broadcast_rows + 1).count()) > max_broadcast_rows
        broadcast_new = not over
    probe_side = F.broadcast(new_bands) if broadcast_new else new_bands
    cand = (
        probe_side.alias("a")
        .join(hist_bands.alias("b"),
              on=[F.col("a.band") == F.col("b.band"),
                  F.col("a.bh") == F.col("b.bh")])
        .select(F.col("a.id").alias("id_new"), F.col("b.id").alias("id_hist"))
        .dropDuplicates(["id_new", "id_hist"])
    )
    if not verify:
        return cand.withColumn("jaccard", F.lit(None).cast("double"))
    with staged() as st:
        cand = st.cache(cand)
        # _spread BEFORE the shingle projection: the semi-joined text side
        # inherits the parquet scan's (possibly single) split, which would
        # serialize the per-row shingling onto one core — the band-table path
        # already spreads for the same reason (measured: the new-side shingle
        # pass alone was 2.2-3.4s single-split vs ~0.3s spread at sf0.1)
        sh_new = (
            _spread(new_df.select(F.col(id_col).alias("id_new"),
                                  F.col(text_col).alias("text"))
                    .join(F.broadcast(cand.select("id_new").distinct()),
                          on="id_new", how="left_semi"))
            .select("id_new", char_shingles("text", k).alias("sh_a"))
        )
        sh_hist = (
            _spread(hist_df.select(F.col(id_col).alias("id_hist"),
                                   F.col(text_col).alias("text"))
                    .join(F.broadcast(cand.select("id_hist").distinct()),
                          on="id_hist", how="left_semi"))
            .select("id_hist", char_shingles("text", k).alias("sh_b"))
        )
        # |A∪B| = |A|+|B|-|A∩B| on the already-distinct shingle arrays —
        # identical value, no union array built (see minhash_lsh_pairs)
        jac = (F.col("inter")
               / (F.size("sh_a") + F.size("sh_b") - F.col("inter")))
        return (
            cand.join(sh_new, on="id_new").join(sh_hist, on="id_hist")
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn("jaccard", jac.cast("double"))
            .where(F.col("jaccard") >= threshold)
            .select("id_new", "id_hist", "jaccard")
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(text_col: str, bits: int = 64) -> F.Column:
    """Classic simhash over whitespace tokens: per bit position, sign of
    the sum of ±1 over token hashes. Emitted as a bigint.

    Shaped as ONE fold over the token-hash array (per token, update all
    ``bits`` counters via zip_with, then fold the counters into the
    signature) so the split+hash pass sits in ARGUMENT position and is
    consumed exactly once structurally. The naive per-bit outer fold
    embeds the token array in its lambda body, and HOF lambda bodies
    evaluate embedded subtrees per element — the split+hash would re-run
    ``bits`` times per row (the hazard minhash_signature_from_hashes
    documents; staging into a projection doesn't help here because
    CollapseProject inlines single-reference aliases back). Bit sums are
    integers and order-independent, so the value is identical to the
    per-bit formulation."""
    hashes = (f"transform(split(trim(lower({text_col})), '\\\\s+'),"
              f" t -> xxhash64(t))")
    # transform's (value, index) lambda supplies the bit position — no
    # sequence() array rebuilt inside the per-token lambda body
    counts = (
        f"aggregate({hashes}, array_repeat(0, {bits}), (acc, h) ->"
        f" transform(acc, (c, j) ->"
        f" c + IF(((h >> j) & 1L) = 1L, 1, -1)))"
    )
    return F.expr(
        f"aggregate(transform({counts}, (c, j) ->"
        f" IF(c >= 0, shiftleft(1L, j), 0L)), 0L, (a, x) -> a | x)"
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= max_hamming.

    Pigeonhole banding: split 64 bits into ``chunks`` 16-bit chunks; any pair
    within hamming ``chunks-1`` shares at least one equal chunk, so a
    bucket-join per chunk finds all candidates; exact hamming (bit_count of
    xor) filters."""
    sigs = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("id"),
        simhash(text_col).alias("sig"),
    )
    return hamming_sig_pairs(sigs, max_hamming=max_hamming, chunks=chunks)


def hamming_sig_pairs(
    sigs: DataFrame, max_hamming: int = 3, chunks: int = 4,
) -> DataFrame:
    """All pairs of 64-bit signatures within ``max_hamming``, by pigeonhole
    chunk banding (shared by simhash_pairs and multimodal.phash_pairs):
    split 64 bits into ``chunks`` equal chunks; any pair within hamming
    ``chunks-1`` must agree on at least one chunk, so a bucket-join per
    chunk finds every candidate; exact hamming (bit_count of xor) filters.
    Input: (id, sig) with sig BIGINT. Returns (id_a, id_b, hamming)."""
    assert max_hamming < chunks, "pigeonhole requires max_hamming < chunks"
    assert 64 % chunks == 0, "chunks must divide 64 (full bit coverage)"
    width = 64 // chunks
    chunked = sigs.select(
        "id", "sig",
        F.explode(
            F.expr(
                f"transform(sequence(0, {chunks - 1}), c ->"
                f" named_struct('c', c, 'v',"
                f" (sig >> (c * {width})) & {(1 << width) - 1}L))"
            )
        ).alias("ch"),
    ).select("id", "sig", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(b, on=[F.col("a.c") == F.col("b.c"),
                      F.col("a.v") == F.col("b.v"),
                      F.col("a.id") < F.col("b.id")])
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr("bit_count(a.sig ^ b.sig)").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# exact n-gram Jaccard (correctness baseline for minhash)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = False,
    hashed_grams: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for every pair sharing at least
    one n-gram. Two exact strategies, chosen by corpus shape:

    ``prefix_filter=False`` (default) — one-pass join+count: explode
    distinct n-grams (spread first so the per-row shingle compute
    parallelizes), self-join on gram, count shared grams per pair, filter
    J >= t. One shuffle of the exploded grams + one pair aggregation.
    Right when no n-gram is wildly frequent, so the pair fan-out
    (sum over grams of df^2) stays near the true candidate mass.

    ``prefix_filter=True`` — AllPairs/PPJoin-style prefix filtering
    (Bayardo et al., WWW'07), for natural-language corpora at scale where
    heavy-hitter n-grams ("one of the") make df^2 explode: index only each
    doc's ``p = n_g - ceil(t*n_g) + 1`` rarest grams (global order =
    document frequency asc), so frequent grams never generate candidates;
    verify candidates exactly via array_intersect over the full gram sets.
    Both paths return identical results (prefix filtering is lossless:
    two sets with J >= t and compatible sizes must share a prefix gram).

    Size-ratio prefilter applies to both: J >= t requires
    t*max(|A|,|B|) <= min(|A|,|B|).

    The returned pair set is materialized eagerly (localCheckpoint) so the
    staged intermediates — the exploded gram rows, orders of magnitude
    larger than the pair output — are released before returning; repeated
    calls in a long-lived session don't accumulate cached blocks. The
    returned checkpoint is the caller's to release.

    ``hashed_grams`` (one-pass path only): optional precomputed
    (``id``, ``n_g``, ``gh: array<bigint>``) — xxhash64-hashed DISTINCT
    n-gram arrays, e.g. computed alongside other per-doc features in a
    single scan (see pipeline.clean_corpus). Skips this function's own
    scan+shingle for the candidate join; the exact confirmation of passing
    pairs still reads ``df`` for the true gram sets, so results are
    identical. Hashed (int64) arrays are the right thing to persist —
    columnar-caching the string gram arrays measured ~2.5s of pure
    cache-build at sf0.1. Because candidates form ONLY among
    ``hashed_grams`` ids and per-doc grams are doc-local, ``df`` here
    may be any superset with the cheapest lineage (e.g. the raw table
    instead of a filtered view of it) — the confirm re-scan is
    broadcast-filtered to the passing ids either way, and a lighter
    lineage keeps the whole upstream pipeline from re-executing under
    it (the r14 confirm-stage collapse: 4.5s -> 2.6s at sf0.1).
    """
    t = float(threshold)
    if hashed_grams is not None and prefix_filter:
        raise ValueError("hashed_grams applies to the one-pass path only")
    # spread BEFORE the shingle projection: a projection placed under the
    # repartition exchange executes on the (possibly single) input split,
    # serializing the expensive per-row compute (measured 9x on sf0.1)
    base = _spread(df.select(F.col(id_col).alias("id"),
                             F.col(text_col).alias("text")))
    grams = (
        base.select("id", _tokens_col("text").alias("__toks"))
        .select("id", word_ngrams_from_tokens("__toks", n).alias("g"))
        .withColumn("n_g", F.size("g"))
    )

    ratio_ok = (
        (F.greatest(F.col("a.n_g"), F.col("b.n_g")) * t)
        <= F.least(F.col("a.n_g"), F.col("b.n_g"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))

    with staged() as st:
        if not prefix_filter:
            # join on 64-bit HASHED grams (measured ~4x over string keys: the
            # join mass is dominated by string hashing/compares), then confirm
            # the few passing pairs EXACTLY on the true gram sets. This is
            # provably exact despite hash collisions: a collision can only
            # INFLATE a counted intersection (every truly-shared gram still
            # matches on its hash), so the hash-counted pass set is a superset
            # of the true pairs and the exact confirmation removes the (rare)
            # spurious ones. Persist the COMPACT exploded rows (id, n_g, h) —
            # columnar-caching the string arrays measured ~2.5s of pure
            # cache-build at sf0.1, and without a persist the self-join would
            # recompute the shingling for each side.
            if hashed_grams is not None:
                exploded = st.cache(hashed_grams.select(
                    F.col("id"), F.col("n_g"), F.explode("gh").alias("h")))
            else:
                exploded = st.cache(grams.select(
                    "id", "n_g",
                    F.explode(F.expr("transform(g, x -> xxhash64(x))"))
                    .alias("h")))
            a, b = exploded.alias("a"), exploded.alias("b")
            shared = (
                a.join(b, on=[F.col("a.h") == F.col("b.h"),
                              F.col("a.id") < F.col("b.id"),
                              ratio_ok])
                .groupBy(
                    F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.col("a.n_g").alias("na"),
                    F.col("b.n_g").alias("nb"),
                )
                .agg(F.count(F.lit(1)).alias("inter"))
            )
            # tiny (bounded by the true near-dup pair count) but referenced by
            # three consumers (the broadcast id set, the confirm join, and the
            # caller's plan) — persist so the join+groupBy over the exploded
            # grams runs once
            passing = st.cache(
                shared.withColumn("jaccard", jac.cast("double"))
                .where(F.col("jaccard") >= t)
                .select("id_a", "id_b"))
            pass_ids = (
                passing.select(F.col("id_a").alias("id"))
                .unionByName(passing.select(F.col("id_b").alias("id")))
                .distinct()
            )
            # persist: garr feeds BOTH sides of the confirm join below —
            # without the cache its subtree (scan + broadcast semi-join +
            # shingle) would execute twice, and the per-row shingle
            # projection is the expensive part (measured ~1.5s per extra
            # execution at sf0.1)
            # semi-join BEFORE _spread: the confirm set is tiny (passing-pair
            # docs only), so the broadcast filter must run at the scan and the
            # round-robin spread move only the survivors — spreading first
            # would shuffle the whole corpus to then discard almost all of it
            garr = st.cache(
                _spread(df.select(F.col(id_col).alias("id"),
                                  F.col(text_col).alias("text"))
                        .join(F.broadcast(pass_ids), on="id", how="left_semi"))
                .select("id", _tokens_col("text").alias("__toks"))
                .select("id", word_ngrams_from_tokens("__toks", n).alias("g"))
                .withColumn("n_g", F.size("g")))
            confirmed = (
                passing
                .join(garr.select(F.col("id").alias("id_a"),
                                  F.col("g").alias("ga"),
                                  F.col("n_g").alias("na")), on="id_a")
                .join(garr.select(F.col("id").alias("id_b"),
                                  F.col("g").alias("gb"),
                                  F.col("n_g").alias("nb")), on="id_b")
                .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
            )
            return (
                confirmed.withColumn("jaccard", jac.cast("double"))
                .where(F.col("jaccard") >= t)
                .select("id_a", "id_b", "jaccard")
                .localCheckpoint(eager=True)  # small: true near-dup pairs only
            )

        grams = st.cache(grams)
        exploded = grams.select("id", "n_g", F.explode("g").alias("gram"))
        gram_df = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        # epsilon guards binary-float overshoot (15*0.2 -> 3.0000000000000004);
        # it can only LENGTHEN the prefix, so exactness is preserved
        prefix_len = (
            F.col("n_g") - F.ceil(F.col("n_g") * t - 1e-9) + 1
        ).cast("int")
        # self-joined twice below; don't recompute the df-sort
        prefix = st.cache(
            exploded.join(gram_df, on="gram")
            .groupBy("id", "n_g")
            .agg(F.sort_array(F.collect_list(F.struct("df", "gram")))
                 .alias("o"))
            .select(
                "id", "n_g",
                F.explode(F.slice(F.col("o.gram"), F.lit(1), prefix_len))
                .alias("gram"),
            ))
        a, b = prefix.alias("a"), prefix.alias("b")
        cand = (
            a.join(b, on=[F.col("a.gram") == F.col("b.gram"),
                          F.col("a.id") < F.col("b.id"),
                          ratio_ok])
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        ver = (
            cand
            .join(grams.select(F.col("id").alias("id_a"),
                               F.col("g").alias("ga"),
                               F.col("n_g").alias("na")), on="id_a")
            .join(grams.select(F.col("id").alias("id_b"),
                               F.col("g").alias("gb"),
                               F.col("n_g").alias("nb")), on="id_b")
            .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        )
        return (
            ver.withColumn("jaccard", jac.cast("double"))
            .where(F.col("jaccard") >= t)
            .select("id_a", "id_b", "jaccard")
            .localCheckpoint(eager=True)  # small: true near-dup pairs only
        )


# --------------------------------------------------------------------------
# duplicate clustering (iterative connected components)
# --------------------------------------------------------------------------

def connected_components(pairs: DataFrame, max_iter: int = 20,
                         stats: dict | None = None,
                         local_threshold: int = 100_000) -> DataFrame:
    """Cluster near-dup PAIRS into components: (id, component) where
    component = the minimum id reachable through the pair graph. The step a
    dedup pipeline needs after pair generation — keep one doc per component.

    Iterative min-label propagation with a POINTER-JUMPING shortcut each
    round (component := label[component], the large-star/small-star trick
    — path lengths halve per round, so convergence is O(log diameter)
    rounds, not O(diameter); max_iter=20 covers diameters up to ~2^20).
    Labels persist per round and the loop exits when a round changes
    nothing; localCheckpoint every round caps plan lineage.

    Raises RuntimeError if the loop exhausts ``max_iter`` without
    converging — silent partial labels would split one true component
    into several, which breaks every downstream guarantee built on
    components (leakage_safe_split's "near-dups never straddle splits"
    first among them).

    ``stats``: pass a dict to receive {"rounds": N} — the number of
    label-propagation rounds executed before convergence (on chain graphs
    rounds stayed at 6 from 1M to 10M pairs while wall per round stayed
    flat; NEXT.md records the readings); the local fast path reports
    rounds=0.

    ``local_threshold``: pair sets at or under this many raw rows are
    solved with a driver-local union-find over the collected pair list
    instead of the distributed loop — each distributed round costs
    several join/shuffle stages plus a checkpoint, pure fixed overhead
    when the whole graph is a few MB, and the fast path also skips the
    union+distinct edge build entirely (union-find is insensitive to
    duplicate/self pairs). The collect is bounded by the threshold
    (~10 MB of driver tuples at the default) — the same
    bounded-model-state contract as the k-means/PQ collects. Output is
    identical (min reachable id per node; union-find keeps the minimum
    root; property-tested against the distributed path). Pass 0 to
    disable (always iterate — the convergence-guard and probe tools do
    this to exercise the distributed loop).
    """
    with staged() as st:
        pairs_sel = pairs.select("id_a", "id_b")
        if local_threshold:
            pairs_sel = st.cache(pairs_sel)
            n_pairs = pairs_sel.count()
            if n_pairs <= local_threshold:
                rows = pairs_sel.collect()
                st.release(pairs_sel)
                parent: dict = {}

                def _find(x):
                    while parent.setdefault(x, x) != x:
                        parent[x] = parent[parent[x]]
                        x = parent[x]
                    return x

                for r in rows:
                    ra, rb = _find(r[0]), _find(r[1])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
                if stats is not None:
                    stats["rounds"] = 0
                from pyspark.sql.types import StructField, StructType

                id_type = pairs.schema["id_a"].dataType
                schema = StructType([StructField("id", id_type, True),
                                     StructField("component", id_type, True)])
                return pairs.sparkSession.createDataFrame(
                    [(n, _find(n)) for n in parent], schema)
        edges = st.cache(
            pairs_sel.select(F.col("id_a").alias("src"),
                             F.col("id_b").alias("dst"))
            .unionByName(pairs_sel.select(F.col("id_b").alias("src"),
                                          F.col("id_a").alias("dst")))
            .distinct())
        # force-COMPLETE the cache before iterating: the loop's convergence
        # probe ends in limit(1).count(), which can stop consuming before the
        # cache blocks finish building — a partially-built cache makes every
        # iteration re-execute the full (possibly expensive) pairs subtree
        # (measured 8x wall on a deep pair plan).
        edges.count()
        if local_threshold:
            st.release(pairs_sel)
        labels = st.cache(
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("component", F.col("id")))
        labels.count()
        for i in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src").agg(F.min("component").alias("nbr_component"))
            )
            stepped = (
                labels.join(neighbor_min, labels.id == neighbor_min.src,
                            "left")
                .select(
                    "id",
                    F.col("component").alias("ocomp"),
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_component"), F.col("component")),
                    ).alias("component"),
                )
            )
            # pointer-jumping shortcut: follow the label chain one hop
            # (component := label[component]); combined with the neighbor-min
            # step above, label paths halve every round -> O(log diameter)
            # rounds instead of O(diameter). The jump table is the label table
            # itself (tiny: one row per node appearing in a pair).
            jump = stepped.select(F.col("id").alias("jid"),
                                  F.col("component").alias("jcomp"))
            final_comp = F.least(
                F.col("component"),
                F.coalesce(F.col("jcomp"), F.col("component")),
            )
            new_labels = (
                stepped.join(jump, stepped.component == jump.jid, "left")
                .select(
                    "id",
                    final_comp.alias("component"),
                    # convergence flag computed IN the round's own pass:
                    # comparing against the pre-step label here replaces the
                    # old per-round labels-vs-new_labels shuffle join whose
                    # only purpose was this comparison (both sides non-null:
                    # labels init component = id)
                    (final_comp != F.col("ocomp")).alias("chg"),
                )
            )
            # checkpoint EVERY round: persist alone leaves the logical plan
            # growing linearly with iterations, and per-round analysis/AQE
            # planning over the accumulated lineage ballooned from 2s to 19s
            # within 4 rounds on a deep pair plan. localCheckpoint truncates
            # lineage; the label table is tiny at any scale (one row per
            # node that appears in a duplicate pair).
            new_labels = st.checkpoint(new_labels)
            changed = new_labels.where("chg").limit(1).count()
            # the superseded round is fully consumed (new_labels checkpointed
            # eagerly, changed-probe done): release its storage NOW instead of
            # waiting for driver GC
            st.release(labels)
            labels = new_labels
            if stats is not None:
                stats["rounds"] = i + 1
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds; "
                f"labels are PARTIAL (one true component may be split into "
                f"several). With pointer jumping this needs a graph diameter "
                f"> ~2^{max_iter} — raise max_iter."
            )
        return st.keep(labels).select("id", "component")


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------

def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
    max_rows_unblocked: int | None = 200_000,
) -> DataFrame:
    """Near-dup pairs by cosine similarity of an array<float> column.

    Brute-force within optional blocks (``block_col``); the similarity is an
    exact sequential double fold (aggregate over zip_with), so results are
    reproducible bit-for-bit. For the sub-quadratic path at scale see
    similarity.brp_lsh_topk.

    Without ``block_col`` the self-join is O(n^2) — fine as an exact
    baseline, catastrophic on a large corpus. ``max_rows_unblocked`` is the
    guardrail: an unblocked call on more rows than this raises (pass a
    ``block_col``, use similarity.brp_lsh_topk / ivf_topk, or set
    ``max_rows_unblocked=None`` to explicitly accept the quadratic cost).
    The probe is ``limit(n+1).count()`` — it short-circuits, never a full
    scan of a 100 TB input."""
    if block_col is None and max_rows_unblocked is not None:
        probe = df.select(id_col).limit(max_rows_unblocked + 1).count()
        if probe > max_rows_unblocked:
            raise ValueError(
                f"embedding_cosine_pairs without block_col is all-pairs "
                f"O(n^2) and the input exceeds {max_rows_unblocked} rows. "
                f"Pass block_col=, use similarity.brp_lsh_topk/ivf_topk for "
                f"the sub-quadratic path, or set max_rows_unblocked=None "
                f"to accept the quadratic join explicitly."
            )
    norm = (
        "sqrt(aggregate(zip_with(v, v, (x, y) -> cast(x as double) * y),"
        " 0D, (acc, x) -> acc + x))"
    )
    base = _spread(df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )).withColumn("nrm", F.expr(norm))
    a, b = base.alias("a"), base.alias("b")
    join_cond = [F.col("a.id") < F.col("b.id")]
    if block_col:
        join_cond.append(F.col("a.blk") == F.col("b.blk"))
    dot = (
        "aggregate(zip_with(a.v, b.v, (x, y) -> cast(x as double) * y),"
        " 0D, (acc, x) -> acc + x)"
    )
    return (
        a.join(b, on=join_cond)
        .withColumn("cosine", F.expr(dot) / (F.col("a.nrm") * F.col("b.nrm")))
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("cosine"),
        )
    )


def keep_best_per_cluster(docs: DataFrame, pairs: DataFrame,
                          id_col: str, score_col: str) -> DataFrame:
    """Quality-aware canonical selection: cluster the near-dup pair graph
    (connected_components) and keep, per cluster, the HIGHEST-``score_col``
    document (ties -> lowest id) instead of exact_dedup's min-id policy —
    what a curation pipeline wants when duplicates differ in quality
    (cleanest extraction survives, boilerplate copies drop).

    Deterministic wherever the score is engine-exact (integer counts,
    decimal-routed scores). Unpaired documents form singleton clusters and
    keep themselves. One CC run + one per-cluster window (shuffle keyed on
    the component — cluster-sized groups, no skew beyond real dup mass).
    Returns (id, component, score, keep)."""
    from pyspark.sql.window import Window

    comp = connected_components(
        pairs.select(F.col("id_a"), F.col("id_b")))
    base = docs.select(F.col(id_col).alias("id"),
                       F.col(score_col).alias("score"))
    labeled = (
        base.join(comp, on="id", how="left")
        .withColumn("component", F.coalesce("component", F.col("id")))
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("score"), F.asc("id"))
    return (
        labeled.withColumn("keep", F.row_number().over(w) == 1)
        .select(F.col("id").alias(id_col), "component", "score", "keep")
    )


def sorted_neighborhood_pairs(df: DataFrame, id_col: str, key_col: str,
                              window: int = 5,
                              partitions: int | None = None) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernandez & Stolfo's
    merge/purge method, SIGMOD'95): every pair of rows within ``window``
    positions of each other in the total order by (key, id) — the THIRD
    blocking family beside LSH bands (minhash_lsh_pairs) and cells
    (cell_blocked_cosine_pairs), and the classic one for record linkage
    where near-duplicates sort adjacently under a well-chosen key.

    DETERMINISTIC and oracle-replayable: the sort key is totalized with
    the id tie-break, so ranks — and therefore the candidate set — are
    exactly `ROW_NUMBER() OVER (ORDER BY key, id)` with distance in
    [1, window-1], verbatim SQL.

    Scale shape (the reason this isn't one global window): the global
    rank is a two-phase distributed prefix COUNT — the
    pack_documents_global machinery with n_tokens = 1: range-partition
    on (key, id), per-partition row_number (each task scans only its own
    slice), per-partition counts (one row per partition — bounded model
    state) prefix-summed on the driver and rejoined as a literal array.
    Pairing is a bucket EQUI-join (bucket = rank div (window-1); a pair
    at distance <= window-1 spans at most adjacent buckets, so the left
    side explodes to 2 buckets and the join fans out O(window) per row)
    — total work O(n * window), never all-pairs, widest stage
    n/partitions rows. Returns (id_a, key_a, rank_a, id_b, key_b,
    rank_b) with rank_a < rank_b."""
    from .cleaning import global_running_sum

    d = window - 1
    if d < 1:
        raise ValueError(f"window must be >= 2, got {window}")
    base = df.select(F.col(id_col), F.col(key_col))
    # global rank = the shared two-phase running COUNT (weight 1/row),
    # totalized by the id tie-break
    ranked = global_running_sum(base, [key_col, id_col], None,
                                partitions, out_col="rank")
    left = (ranked.select(F.col(id_col).alias("id_a"),
                          F.col(key_col).alias("key_a"),
                          F.col("rank").alias("rank_a"))
            .withColumn("__jb", F.explode(F.array(
                F.expr(f"rank_a div {d}"),
                F.expr(f"rank_a div {d} + 1"))))
    )
    right = (ranked.select(F.col(id_col).alias("id_b"),
                           F.col(key_col).alias("key_b"),
                           F.col("rank").alias("rank_b"))
             .withColumn("__jb", F.expr(f"rank_b div {d}")))
    return (left.join(right, on="__jb")
            .where((F.col("rank_b") - F.col("rank_a")).between(1, d))
            .drop("__jb"))
