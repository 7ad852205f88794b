"""Dedup-family EDGE-GROWTH probe (VERDICT r10 item 7): the two-decade
disjoint blow-up the graph loops already carry (tools/probe_100x.py,
frontier_growth_probe), applied to the two dedup shapes the 100 TB claim
leans on:

1. **q_dedup_components_star** — MinHash-LSH candidate pairs +
   large-star/small-star contraction.  Disjoint copies: every copy's
   tokens carry a per-copy prefix, so cross-copy shingle sets are
   DISJOINT (Jaccard 0) and components never span copies; within-copy
   structure mirrors the base corpus.  Claim: pair-stage + contraction
   shuffle bytes stay ~linear in the copy count across two decades.
2. **q_dedup_simhash_c6** — 32-bit SimHash, 6-block C(6,3) pigeonhole
   banding.  The per-copy token prefix rolls every feature hash, so
   copies land in ~independent bucket keys; per-bucket width stays flat
   while bucket count grows, which is exactly the c6 layout's 100 TB
   posture (bucket width ~ corpus/2^16).  Claim: index + candidate join
   bytes ~linear, no quadratic bucket blow-up.
3. **q_dedup_jaccard_prefix** — prefix-filtered EXACT Jaccard≥0.7 join
   (operators/setsim.py).  Disjoint copies multiply shingle volume by k
   with per-copy-distinct hashes, so posting lists stay base-width and
   true pairs grow linearly.  Claim: index entries, candidates and
   shuffle bytes all ~linear; the exact route needs no hot-cap because
   rarest-first prefixes never index the frequent shingles.  (A
   mega-cluster of true duplicates is out of scope here by design: its
   PAIR OUTPUT is inherently quadratic for any exact pair-listing
   operator — the engine's answer to that shape is
   q_dedup_components/_star group contraction, probed in section 1.)

Copies are node-shifted (doc_id + k·off) and text-tagged (every token
prefixed ``c<k>x``), so nothing cancels and nothing pairs across copies
except chance simhash collisions (measured, reported).

Usage: python tools/dedup_growth_probe.py [sf_dir] [k1,k2,...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    ks = [int(x) for x in (sys.argv[2].split(",") if len(sys.argv) > 2 else ["10", "100"])]

    from matrix_multiplication_bigdata_ind_assignments_spark.functions.metrics import (
        settled_snapshot,
        shuffle_delta,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        connected_components_star,
        minhash_pairs,
        simhash_pairs,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark
    from matrix_multiplication_bigdata_ind_assignments_spark.sources.io import load

    spark = get_spark(
        "dedup-growth-probe",
        cpus="32",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedJobs": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    off = base.agg(F.max("doc_id")).first()[0] + 1

    def blowup(k: int):
        # per-copy tag on EVERY token → cross-copy Jaccard 0, rolled
        # simhash features; within-copy pair structure mirrors the base
        tag = F.concat(F.lit("c"), F.col("id").cast("string"), F.lit("x"))
        return (
            spark.range(k)
            .crossJoin(base)
            .select(
                (F.col("doc_id") + F.col("id") * off).alias("doc_id"),
                F.concat(tag, F.regexp_replace("text", " ", F.concat(F.lit(" "), tag))).alias(
                    "text"
                ),
            )
            .localCheckpoint(eager=True)
        )

    # the 1x arm is blowup(1) — TAGGED like the copies, so per-row text
    # bytes are comparable across scales and the ratio isolates volume
    graphs = [("base 1x", blowup(1))]
    for k in ks:
        graphs.append((f"disjoint {k}x", blowup(k)))

    print("### components_star over MinHash-LSH pairs (disjoint text copies)")
    print("| corpus | docs | pairs | components | shuffle write (MB) | wall (s) |")
    print("|---|---|---|---|---|---|")
    for label, docs in graphs:
        nd = docs.count()
        snap0 = settled_snapshot(spark)
        t0 = time.perf_counter()
        pairs = minhash_pairs(docs).localCheckpoint(eager=True)
        np_ = pairs.count()
        comps = connected_components_star(spark, pairs, "da", "db").count()
        wall = time.perf_counter() - t0
        mb = shuffle_delta(snap0, settled_snapshot(spark))["shuffle_write_bytes"] / 1048576
        print(f"| {label} | {nd:,} | {np_:,} | {comps:,} | {mb:.2f} | {wall:.2f} |", flush=True)

    print()
    print("### simhash_pairs c6 layout (disjoint text copies)")
    print("| corpus | docs | pairs | cross-copy pairs | shuffle write (MB) | wall (s) |")
    print("|---|---|---|---|---|---|")
    for label, docs in graphs:
        nd = docs.count()
        snap0 = settled_snapshot(spark)
        t0 = time.perf_counter()
        # one streaming agg, NO materialization of the pair set: at 100x
        # the c6 candidate set is ~1.6e8 rows and an eager localCheckpoint
        # of it is exactly the all-in-memory shape the probe exists to
        # prove the OPERATOR avoids (first run OOMed doing that)
        row = (
            simhash_pairs(docs, blocks=6)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(
                    F.when(
                        (F.col("da") / off).cast("long") != (F.col("db") / off).cast("long"),
                        1,
                    )
                ).alias("cross"),
            )
            .first()
        )
        wall = time.perf_counter() - t0
        mb = shuffle_delta(snap0, settled_snapshot(spark))["shuffle_write_bytes"] / 1048576
        print(
            f"| {label} | {nd:,} | {row['n']:,} | {row['cross']:,} | {mb:.2f} | {wall:.2f} |",
            flush=True,
        )

    from matrix_multiplication_bigdata_ind_assignments_spark.operators.setsim import jaccard_prefix_pairs

    print()
    print("### jaccard_prefix_pairs exact t=0.7 (disjoint text copies)")
    print("| corpus | docs | pairs | cross-copy pairs | shuffle write (MB) | wall (s) |")
    print("|---|---|---|---|---|---|")
    for label, docs in graphs:
        nd = docs.count()
        snap0 = settled_snapshot(spark)
        t0 = time.perf_counter()
        row = (
            jaccard_prefix_pairs(docs)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(
                    F.when(
                        (F.col("da") / off).cast("long") != (F.col("db") / off).cast("long"),
                        1,
                    )
                ).alias("cross"),
            )
            .first()
        )
        wall = time.perf_counter() - t0
        mb = shuffle_delta(snap0, settled_snapshot(spark))["shuffle_write_bytes"] / 1048576
        print(
            f"| {label} | {nd:,} | {row['n']:,} | {row['cross']:,} | {mb:.2f} | {wall:.2f} |",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
