"""TrustRank: graph.pagerank with a seeded teleport (operators/ppr.py)."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from matrix_multiplication_bigdata_ind_assignments_spark.operators.graph import _decode_ranks, pagerank, trade_edges  # noqa: E402
from matrix_multiplication_bigdata_ind_assignments_spark.operators.ppr import _SEED_MOD  # noqa: E402

from conftest import rows_set  # noqa: E402


def test_uniform_seed_set_reproduces_pagerank(spark, sf_dir):
    """seed_mod=1 makes every node a seed with weight 1/n — the update
    collapses to uniform PageRank, and the 12-dp per-round rounding must
    make the two implementations bit-identical (same recipe that makes
    the unrolled-CTE oracles comparable)."""
    edges = trade_edges(spark, sf_dir)
    ppr = rows_set(_decode_ranks(pagerank(spark, edges, seed_mod=1)))
    pr = rows_set(_decode_ranks(pagerank(spark, trade_edges(spark, sf_dir))))
    assert ppr == pr


def test_trustrank_mass_and_teleport_floor(spark, sf_dir):
    """Undirected walk ⇒ no dangling leak: Σrank = 1 (±12-dp rounding
    accumulation).  Every seed holds at least its teleport floor
    (1−d)·1/|S| — exact from the update since the contribution term is
    non-negative."""
    ranks = pagerank(spark, trade_edges(spark, sf_dir), seed_mod=_SEED_MOD).collect()
    total = sum(r["rank"] for r in ranks)
    assert abs(total - 1.0) < 1e-6, total
    seeds = [r for r in ranks if r["node"] % _SEED_MOD == 0]
    assert seeds
    floor = 0.15 / len(seeds) - 1e-9
    assert all(r["rank"] >= floor for r in seeds), min(r["rank"] for r in seeds)


def test_trustrank_empty_seed_set_raises(spark):
    """A graph with no seed-eligible node must fail loudly, not return a
    zero vector."""
    edges = spark.createDataFrame([(1, 3), (3, 5)], ["src", "dst"])
    with pytest.raises(ValueError, match="empty seed set"):
        pagerank(spark, edges, seed_mod=_SEED_MOD)  # odd ids only: none % 20 == 0


def test_seeded_directed_dangling_mass_returns_to_seeds(spark):
    """Directed + seeded: the dangling mass is handed back along the
    teleport vector (d·m·sw), so Σrank = 1 and a node outside the seed
    set with no in-edges holds rank 0."""
    edges = spark.createDataFrame([(2, 3), (3, 5), (4, 5), (7, 2)], "src long, dst long")
    ranks = {
        r["node"]: r["rank"]
        for r in pagerank(spark, edges, directed=True, seed_mod=2).collect()
    }
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks[7] == 0.0
    assert ranks[2] > ranks[3] > 0.0
