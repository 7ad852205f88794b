"""Frontier-loop EDGE-GROWTH probe: shuffle-byte envelope for one
semiring of graph.frontier_relax (bfs, widest or shortest) under a k-fold
blow-up of the trade graph, in two regimes:

- ``disjoint``: k node-shifted copies (seed set replicated per copy) —
  frontiers grow k-fold, so per-round bytes should track ~k× and the
  fixpoint depth stays put (each copy is the base graph).
- ``rotated``: k copies over the SAME node set — densification.
  Unweighted (bfs): edge-rotated copies; the frontier saturates faster,
  so bytes are bounded by the visited set, not by |E|.  Weighted
  (widest, shortest): weight-rotated parallel edges, which the per-round
  groupBy(node) aggregate collapses map-side, so bytes are bounded by the
  live node set.

Usage: python tools/frontier_growth_probe.py {bfs,widest,shortest} SF_DIR [k1,k2,...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    if len(sys.argv) < 3 or sys.argv[1] not in ("bfs", "widest", "shortest"):
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    sf_dir = sys.argv[2]
    ks = [int(x) for x in (sys.argv[3].split(",") if len(sys.argv) > 3 else ["10"])]

    from matrix_multiplication_bigdata_ind_assignments_spark.functions.metrics import (
        settled_snapshot,
        shuffle_delta,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.operators import graph as G
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

    spec = {"bfs": G.BFS, "widest": G.WIDEST, "shortest": G.SHORTEST}[sys.argv[1]]
    spark = get_spark(
        "frontier-growth-probe",
        cpus="32",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedJobs": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if spec.weight is None:
        base = G.trade_edges(spark, sf_dir)
    else:
        base = G.trade_edges_weighted(spark, sf_dir).selectExpr(
            "src", "dst", spec.weight.replace("//", " DIV ")
        )
    base = base.localCheckpoint(eager=True)
    wcols = [c for c in base.columns if c not in ("src", "dst")]
    mx = base.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0]
    off = mx + 2 + (mx % 2)  # even shift keeps the 2k/2k+1 node parity per copy

    def disjoint(k: int):
        return (
            spark.range(k)
            .crossJoin(base)
            .select(
                (F.col("src") + F.col("id") * off).alias("src"),
                (F.col("dst") + F.col("id") * off).alias("dst"),
                *wcols,
            )
        )

    def rotated(k: int):
        copies = spark.range(k).crossJoin(base)
        if not wcols:
            step = max(2, (off // (k + 1)) & ~1)  # even step keeps parity
            return (
                copies.select(
                    F.pmod(F.col("src") + F.col("id") * step, F.lit(off)).alias("src"),
                    F.pmod(F.col("dst") + F.col("id") * step, F.lit(off)).alias("dst"),
                )
                .where(F.col("src") != F.col("dst"))
                .distinct()
            )
        # weight' = ((weight - 1 + id*9973) % 1e6) + 1 stays positive and
        # distinct per copy: k parallel edges between every endpoint pair
        (wc,) = wcols
        return copies.select(
            "src",
            "dst",
            (((F.col(wc) - 1 + F.col("id") * 9973) % 1000000) + 1).alias(wc),
        )

    graphs = [("base 1x", base)]
    graphs += [(f"disjoint {k}x", disjoint(k)) for k in ks]
    graphs += [(f"rotated {k}x", rotated(k)) for k in ks]

    print(f"### {spec.query} loop ({spec.rounds} fixed rounds, {spec.agg} of {spec.cand})")
    print("| graph | edges m | seeds | reached | shuffle write (MB) | wall (s) |")
    print("|---|---|---|---|---|---|")
    for label, edges in graphs:
        e = edges.localCheckpoint(eager=True)
        m = e.count()
        # seed rule per copy: supplier nodes whose in-copy key % 10 == 0
        seeds = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .where(F.pmod(F.col("node"), F.lit(off)) % G._SEED_MOD == 0)
            .distinct()
            .localCheckpoint(eager=True)
        )
        ns = seeds.count()
        snap0 = settled_snapshot(spark)
        t0 = time.perf_counter()
        reached = G.frontier_relax(e, seeds, spec).count()
        wall = time.perf_counter() - t0
        d = shuffle_delta(snap0, settled_snapshot(spark))
        mb = d["shuffle_write_bytes"] / 1048576
        print(f"| {label} | {m:,} | {ns:,} | {reached:,} | {mb:.2f} | {wall:.2f} |", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
