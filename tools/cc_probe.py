"""Connected-components / leakage-split scaling probe.

Answers the would-it-survive-100x question for the one composite chain
whose 10x cost looked super-linear in earlier probes: pair graph ->
pointer-jumping CC -> one split draw per component. The probe scales the
PAIR MASS 10x/30x/100x over a controlled topology (fixed-length chains:
worst-case diameter per edge, so pointer jumping actually works for its
convergence) and records wall, rounds, and component count — separating
"rounds grew" (log diameter — expected flat here, chains have fixed
length) from "per-round cost grew" (linear in pair mass — the healthy
axis).

Usage: python tools/cc_probe.py [chain_len] [factors...]
Defaults: chain_len=50, factors 10 30 100 (x 2k chains = 1M/3M/10M nodes).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    chain_len = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    factors = [int(a) for a in sys.argv[2:]] or [10, 30, 100]

    from dbt_extrica_spark.extensions import dedup, sampling
    from dbt_extrica_spark.session import get_spark

    spark = get_spark(master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    out = {"chain_len": chain_len, "loadavg_start": os.getloadavg()[0],
           "probes": []}
    base_chains = 2_000  # x factor -> number of chains
    for factor in factors:
        n_chains = base_chains * factor
        n_nodes = n_chains * chain_len
        # chain topology: node i pairs with i+1 unless it ends a chain —
        # every edge contributes diameter, the worst case for propagation
        pairs = (
            spark.range(n_nodes).withColumnRenamed("id", "id_a")
            .where((F.col("id_a") % chain_len) != chain_len - 1)
            .select("id_a", (F.col("id_a") + 1).alias("id_b"))
            .repartition(64)
        )
        stats: dict = {}
        t0 = time.time()
        comp = dedup.connected_components(pairs, max_iter=20, stats=stats)
        n_comp = comp.select("component").distinct().count()
        cc_wall = time.time() - t0
        # the downstream draw: one md5 draw per component, members join in
        docs = spark.range(n_nodes).select(F.col("id").alias("doc_id"))
        t0 = time.time()
        split_counts = {
            r["split"]: r["n"]
            for r in sampling.leakage_safe_split(
                docs, "doc_id", pairs,
                {"train": 0.8, "val": 0.1, "test": 0.1})
            .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        split_wall = time.time() - t0
        out["probes"].append({
            "factor": factor,
            "pairs": n_nodes - n_chains,
            "components": n_comp,
            "cc_rounds": stats.get("rounds"),
            "cc_sec": round(cc_wall, 2),
            "leakage_split_sec": round(split_wall, 2),
            "split_rows": sum(split_counts.values()),
        })
        print(f"# factor {factor}: {out['probes'][-1]}", file=sys.stderr)
    out["loadavg_end"] = os.getloadavg()[0]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
