"""Materialize an N× scaled replica of an sf directory to parquet ON DISK,
so the bench/measure tooling can run data-dominated readings (r16 verdict
item 3: every r16 win was measured at sf0.1 where fixed overhead dominates;
this produces an sf{0.1*N} directory whose queries move real data).

Replication is KEY-CONSISTENT: for replica i every primary/foreign key is
shifted by i*10M on BOTH sides (lineitem.l_orderkey with orders.o_orderkey,
orders.o_custkey with customer.c_custkey, events.user_id with c_custkey,
…), so joins match within replicas and no join fans out N× — the scaled
workload keeps the original shape, just N× the rows. Text corpora get a
per-replica Caesar rotation of [a-z] (plus a replica tag word) so shingle-
level near-dup structure stays per-replica — replicating text verbatim
would manufacture a dup-saturated corpus and measure the corpus, not the
operator (the scale_probe.py caveat). Embeddings get a tiny deterministic
per-replica offset for the same reason.

NOT an oracle input (no DuckDB twin) — timing evidence only. Writes to a
NEW directory; never touches /root/testdata (read-only by contract).

Usage: python tools/make_scale_dir.py OUT_DIR [replicas] [--src DIR]
"""

from __future__ import annotations

import argparse
import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

SHIFT = 10_000_000

# per-table key columns shifted by replica*SHIFT (consistent across tables)
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_ONLY = ("region", "nation")  # tiny dims: identical in every replica


def _rot_expr(col: str, i: int) -> F.Column:
    """Per-replica Caesar rotation of the lowercase alphabet (replica 0 is
    the identity): keeps text length/structure, de-correlates shingles."""
    if i == 0:
        return F.col(col)
    a = string.ascii_lowercase
    rot = a[i % 26:] + a[:i % 26]
    return F.translate(F.col(col), a, rot)


def replicate(df: DataFrame, name: str, replicas: int) -> DataFrame:
    out = None
    for i in range(replicas):
        part = df
        for k in KEYS.get(name, []):
            part = part.withColumn(k, F.col(k) + F.lit(i * SHIFT))
        if name == "documents" and i > 0:
            part = part.withColumn(
                "text", F.concat(F.lit(f"rep{i} "), _rot_expr("text", i)))
        if name == "embeddings" and i > 0:
            part = part.withColumn(
                "embedding",
                F.expr(f"transform(embedding, x -> x + {i}* 0.001d)"))
        out = part if out is None else out.unionByName(part)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("replicas", type=int, nargs="?", default=10)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    if args.replicas < 1:
        ap.error("replicas must be >= 1")

    from dbt_extrica_spark.session import get_spark
    from dbt_extrica_spark.sources.registry import read_parquet_table

    spark = get_spark(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    # write timestamps as annotated int64 micros, NOT the INT96 legacy
    # default: INT96 reads back as timestamp[ns] in the footer probe and
    # the source boundary would mis-apply the ns->us repair to a column
    # Spark already surfaces as TIMESTAMP
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    os.makedirs(args.out_dir, exist_ok=True)
    for name in list(KEYS) + list(COPY_ONLY):
        src = os.path.join(args.src, f"{name}.parquet")
        if not os.path.exists(src):
            continue
        # read through the source boundary (ns-timestamp restoration, NTZ
        # normalization): a raw read would surface timestamp[ns] columns
        # as longs under nanosAsLong and the scaled dir would write them
        # as bigint, breaking every event-time consumer
        df = read_parquet_table(spark, src)
        n = 1 if name in COPY_ONLY else args.replicas
        big = replicate(df, name, n)
        dst = os.path.join(args.out_dir, f"{name}.parquet")
        if name == "events":
            # events must be a single FILE (testdata layout): the
            # streaming readers glob `<sf_dir>/events.parquet` as a file
            # name, and a directory of part files never matches. Small
            # (~4 MB) row groups keep the single file's scan parallel —
            # a byte-range split still consumes whole row groups, so the
            # default 128 MB group would serialize the scan to one task.
            import glob
            import shutil

            tmp_dir = dst + "__stage"
            big.coalesce(1).write.mode("overwrite") \
                .option("parquet.block.size", 4 * 1024 * 1024) \
                .parquet(tmp_dir)
            (part,) = glob.glob(os.path.join(tmp_dir, "part-*.parquet"))
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            elif os.path.exists(dst):
                os.remove(dst)
            shutil.move(part, dst)
            shutil.rmtree(tmp_dir)
        else:
            # batch-read tables: a directory of ~10 part files reads
            # identically to a file path and keeps scans parallel even
            # for small corpora (documents is ~6 MB at 10x — one row
            # group would serialize every corpus scan)
            big.repartition(max(2, min(16, n))).write.mode("overwrite") \
                .parquet(dst)
        print(f"wrote {dst}: {spark.read.parquet(dst).count()} rows")
    spark.stop()


if __name__ == "__main__":
    main()
