"""Landmark-based harmonic closeness centrality (SURVEY.md §2.3
'iterative algorithms' class): the Eppstein–Wang estimator (SODA'01,
"Fast approximation of centrality") — exact BFS distances from a
BOUNDED landmark sample, harmonically aggregated per node.  Completes
the centrality family next to the eigenvector kinds (q_pagerank /
q_trustrank / q_hits): closeness ranks nodes by graph DISTANCE, which
eigenvector scores cannot see (a node bridging two clusters is close to
everything yet feeds no flow cycle).

Harmonic form (Boldi–Vigna, "Axioms for centrality", 2014): H(v) =
Σ_{l ∈ L, d(v,l)>0} 1/d(v,l) — sums over the landmark sample only,
handles disconnected pairs natively (missing pair ⇒ contributes 0,
where classic closeness would need ∞).

Scale shape: the landmark set L is an arithmetic 10% supplier sample
(node % 20 == 0 — the q_trustrank seed rule, so both engines derive it
from the data), and the estimator's whole point is |L| stays BOUNDED as
the graph grows (Eppstein–Wang: O(log n / ε²) landmarks for ε-accurate
centrality).  The BFS is graph.frontier_relax's delta/frontier loop
with state keyed on (node, landmark) pairs — per-round shuffle is
O(|frontier| · avg-degree), frontier/visited localCheckpoint per round,
empty-frontier early stop; the |V|·|L| distance table is the documented
memory envelope (swap the broadcast frontier joins for the shuffled
copartition form past broadcast size, the graph.pagerank switch).

Determinism/oracle contract: distances are all-integer monotone
relaxations with a fixed unroll (the frontier_relax recipe) so the
identically-unrolled DuckDB CTEs agree exactly; the single fp step (the
harmonic sum of ≤|L| reciprocals) is rounded 12 dp in-plan in both
engines.  The sweep's R+1-stability post_check re-runs the oracle with
one extra round — a fixture needing deeper search fails loudly instead
of hashing green wrong-together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .graph import (
    _TRADE_EDGES_SQL,
    _decode_node,
    _decode_sql,
    _unroll_stability_check,
    trade_edges,
)

_CL_ROUNDS = 6  # fixed unroll; the trade graph settles in <=3 (dense bipartite)
_CL_SEED_MOD = 20  # landmarks = trusted suppliers (node % 20 == 0), ~10% of suppliers


def landmark_distances(
    edges: DataFrame,
    rounds: int = _CL_ROUNDS,
    seed_mod: int = _CL_SEED_MOD,
    join_strategy: str = "broadcast",
) -> DataFrame:
    """(node, lm, dist): exact hop distance from every landmark to every
    node reachable within ``rounds``, via the multi-source delta/frontier
    BFS of graph.frontier_relax generalized to per-landmark state — the
    frontier carries (node, lm, dist) triples and first-reach per PAIR
    is minimal (unit weights), so relaxation is integer and monotone.

    ``join_strategy`` (the graph.pagerank switch, and NOT theoretical
    here: tools/centrality_growth_probe.py's disjoint-10x arm BLEW the
    broadcast build — the pair frontier peaks at |V|·|L| scale, far
    bigger than any single-vector frontier):

    - ``'broadcast'`` (default): the frontier side broadcasts — zero
      edge movement; right while the PAIR frontier fits an executor.
      (The settled-pair table is never broadcast in either arm — it is
      the largest frame; the first-reach anti-join always shuffles on
      the (node, lm) key.)
    - ``'copartition'``: the symmetric edge list is hash-clustered on
      src ONCE (persisted) and the loop pins shuffle partitions to its
      count, so each round's expansion exchanges ONLY the frontier side
      (EnsureRequirements reuses the edges' clustering) — per-round cost
      O(|frontier| + touched edges), never a driver-memory broadcast.
      The probe's growth arms run this arm; results are bit-identical
      (integer monotone relaxation is join-order-invariant; asserted in
      tests/test_closeness.py).

    r12 optimization — BITMASK level sets instead of pair rows (the
    guide-§8 proxy-shuffle move: decide with small rows, emit big rows
    once).  The old form shuffled one row per (node, landmark) candidate
    through every round's min-agg and anti-join: at sf0.1 the supplier
    expansion round alone pushed ~59M rows through the hash agg (|E_f| ·
    landmarks-per-node), 96 MB shuffle / ~7 s for the query.  Per-pair
    rows are redundant for SYNCHRONOUS unit-weight BFS: every pair
    reached in round r has dist exactly r, so the only per-round state
    that matters is WHICH landmarks reached each node — a bitset.
    Landmark ids are numbered once (row_number over the BOUNDED landmark
    set — Eppstein–Wang: |L| = O(log n / ε²)), packed 64/word into
    (node, wi, word) rows; the expansion becomes one equi-join + a
    ``bit_or`` hash agg on (node, wi) — fixed-width rows, map-side
    combinable, so the agg input collapses from |E_f|·|L_node| pair rows
    to |E_f| word rows and the shuffle to O(|touched nodes| · |L|/64).
    First-reach dedup is ``word & ~settled_word`` (a join on (node, wi)
    against word-state 64× smaller than the pair table — the new memory
    envelope is |V|·⌈|L|/64⌉ words).  Pairs are EXPLODED once per round
    from the new words (dist = the round index — the synchronous-BFS
    level) and unioned lazily; the returned (node, lm, dist) table is
    bit-identical to the pair-row form (same level sets by induction:
    OR-expansion ≡ min-agg + anti-join for uniform-dist frontiers).
    Measured r12 at sf0.1: shuffle write 96.2 → 16.4 MB (read 107 → 27),
    wall 14.3 → 5.6 s min-of-3 interleaved same-box; job count rises
    39 → 49 (the word-state rounds checkpoint settled+new separately and
    probe isEmpty) but each job moves 64×-narrower rows — the win is
    bytes, not job count (plans/r12/q_closeness_landmarks_*)."""
    if join_strategy not in ("broadcast", "copartition"):
        raise ValueError(f"unknown join_strategy {join_strategy!r}")
    import os

    bc = F.broadcast if join_strategy == "broadcast" else (lambda df: df)
    n_part = int(os.environ.get("MMBD_CC_SHUFFLE_PARTITIONS", "8"))
    spark = edges.sparkSession
    ck = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if join_strategy == "copartition":
        sym = sym.repartition(n_part, "src").persist()
        sym.count()  # materialize the one-time clustering
    else:
        # r13 MEASURED NEGATIVE (do not retry): dst-clustering the
        # resident edges at n_part=8 so the per-round bit_or aggregate
        # rides the exchange (the frontier_relax move) was A/B'd at 7.0-7.9s
        # vs 6.4-7.4 s for this shape — the expansion here is
        # compute-heavy (|E_f| word rows through bit_or per round) and
        # losing the checkpoint's ~64-way map parallelism costs more
        # than the post-partial-agg word exchange it saves.  The
        # checkpointed wide edge list stays.
        sym = ck(sym)
    # landmark index table (lm, wi, bit): one word index + bit position
    # per landmark, assigned by a row_number over the BOUNDED landmark
    # set (|L| = O(log n / ε²) by the estimator's contract — the single-
    # partition window is over |L| rows, not data).  Broadcast wherever
    # joined in BOTH arms: it is O(|L|), not |V|-sized state.
    from pyspark.sql.window import Window

    lm_tbl = ck(
        sym.select("src")
        .where(F.col("src") % seed_mod == 0)
        .distinct()
        .select(F.col("src").alias("lm"))
        .select(
            "lm", (F.row_number().over(Window.orderBy("lm")) - 1).alias("ix")
        )
        .select(
            "lm",
            F.expr("ix DIV 64").alias("wi"),
            F.expr("ix % 64").alias("bit"),
        )
    )
    # seed state: each landmark's own node carries its bit
    seed_words = ck(
        lm_tbl.select(
            F.col("lm").alias("node"),
            "wi",
            F.expr("shiftleft(CAST(1 AS BIGINT), bit)").alias("m"),
        )
    )
    settled = seed_words
    frontier = seed_words
    parts = [
        lm_tbl.select(F.col("lm").alias("node"), "lm", F.lit(0).cast("long").alias("dist"))
    ]
    old_part = spark.conf.get("spark.sql.shuffle.partitions")
    if join_strategy == "copartition":
        spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
    try:
        for r in range(rounds):
            # OR together the frontier words arriving at each node — one
            # equi-join + one fixed-width map-side-combinable agg
            cand = (
                sym.join(bc(frontier.withColumnRenamed("node", "src")), "src")
                .groupBy(F.col("dst").alias("node"), "wi")
                .agg(F.bit_or("m").alias("cm"))
            )
            new = ck(
                cand.join(settled.withColumnRenamed("m", "sm"), ["node", "wi"], "left")
                .select(
                    "node",
                    "wi",
                    F.expr("cm & ~coalesce(sm, CAST(0 AS BIGINT))").alias("m"),
                )
                .where(F.col("m") != 0)
            )
            if new.isEmpty():
                break  # level-set fixpoint: remaining rounds reach nothing
            # explode this round's new bits to (node, lm, dist=r+1) —
            # every pair first reached in a synchronous round sits at
            # exactly that BFS level, so no min-agg or anti-join is needed.
            # Each part is eagerly checkpointed (ADVICE r12): the returned
            # union is then materialized state — a caller running several
            # actions never re-executes the explode joins, and no stage of
            # the result runs after the finally block restores the session
            # shuffle partitions.
            parts.append(
                ck(
                    new.join(F.broadcast(lm_tbl), "wi")
                    .where(F.expr("(shiftright(m, bit) & 1) = 1"))
                    .select("node", "lm", F.lit(r + 1).cast("long").alias("dist"))
                )
            )
            settled = ck(
                settled.withColumnRenamed("m", "sm")
                .join(new.withColumnRenamed("m", "nm"), ["node", "wi"], "full")
                .select(
                    "node",
                    "wi",
                    F.expr(
                        "coalesce(sm, CAST(0 AS BIGINT)) | coalesce(nm, CAST(0 AS BIGINT))"
                    ).alias("m"),
                )
            )
            frontier = new
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_part)
        if join_strategy == "copartition":
            sym.unpersist()  # every returned part is an eager checkpoint
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _sql_closeness(rounds: int = _CL_ROUNDS) -> str:
    """The identical per-landmark BFS + harmonic sum as unrolled DuckDB
    CTEs (state keyed on (node, lm) pairs; min-over-union relaxation)."""
    ctes = [
        f"""e AS MATERIALIZED (
  {_TRADE_EDGES_SQL}
),
ed AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
d0 AS (
  SELECT src AS node, src AS lm, 0 AS dist
  FROM (SELECT DISTINCT src FROM ed WHERE src % {_CL_SEED_MOD} = 0)
)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, lm, min(dist) AS dist FROM (
    SELECT node, lm, dist FROM d{i - 1}
    UNION ALL
    SELECT ed.dst AS node, d.lm, d.dist + 1 AS dist
    FROM ed JOIN d{i - 1} d ON ed.src = d.node
  ) GROUP BY node, lm
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
nodes AS (SELECT DISTINCT src AS node FROM ed),
h AS (
  SELECT node, round(sum(1.0 / dist), 12) AS h
  FROM d{rounds} WHERE dist > 0 GROUP BY node
)
SELECT {_decode_sql("nodes.node")},
       round(coalesce(h.h, 0.0), 6) AS harmonic
FROM nodes LEFT JOIN h ON nodes.node = h.node
"""
    )


@register(
    "q_closeness_landmarks",
    oracle=_sql_closeness(),
    post_check=_unroll_stability_check(_sql_closeness, _CL_ROUNDS, "_CL_ROUNDS"),
)
def q_closeness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality over the supplier↔customer trade
    graph from the 10% landmark supplier sample: per-(node, landmark)
    BFS distances (delta/frontier loop, 6-round fixed unroll) →
    H(v) = round(Σ 1/d(v,l), 12) — the distance-based centrality beside
    the eigenvector family, oracle-checked via identically-unrolled
    CTEs with an R+1-stability certificate in the sweep."""
    edges = trade_edges(spark, sf_dir)
    dists = landmark_distances(edges)
    # the universe is EVERY graph node, not just reached ones — a node no
    # landmark reaches must still emit harmonic 0.0 (matching the oracle)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    h = (
        dists.where(F.col("dist") > 0)
        .groupBy("node")
        .agg(F.round(F.sum(F.lit(1.0) / F.col("dist")), 12).alias("h"))
    )
    return (
        nodes.join(F.broadcast(h), "node", "left")
        .select(
            *_decode_node(),
            F.round(F.coalesce(F.col("h"), F.lit(0.0)), 6).alias("harmonic"),
        )
    )
