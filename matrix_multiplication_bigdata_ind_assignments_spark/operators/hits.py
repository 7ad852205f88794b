"""HITS (hubs & authorities) — Kleinberg, JACM'99 ("Authoritative
sources in a hyperlinked environment") — over the DIRECTED
supplier→customer trade graph (SURVEY.md §2.3 'iterative algorithms'
class, beside q_pagerank/q_trustrank in the centrality family; the
reference has no graph surface, so the parity anchor is the shared
Pregel-style loop shape of `Stage 3`'s iterative partitioned kernels,
e.g. `Stage 3/Python Implementation/mm_opt_par.py:43-86`'s fixed-round
sweep — cited for loop structure only, nothing is ported).

Mutual recursion distinguishes HITS from the PageRank family: each
round updates TWO interleaved vectors — auth(v) = Σ_{u→v} hub(u) then
hub(u) = Σ_{u→v} auth(v) — each L2-normalized.  On the bipartite
supplier→customer graph this is the power iteration of AᵀA / AAᵀ, i.e.
the principal left/right singular vectors of the trade incidence
matrix: authorities = customers central to the trade flow, hubs =
suppliers feeding them.

ORACLE-CHECKED like q_pagerank: fixed 10 rounds, every aggregate
(contribution sums, squared-norm sums) rounded to 12 dp IN-PLAN in both
engines before use, so differing summation orders cannot drift across
rounds; the DuckDB side is the same method unrolled into MATERIALIZED
CTEs (each iterate is referenced twice — materialization keeps the
unrolled plan linear, matching Spark's per-round localCheckpoint).

Scale shape (= q_pagerank's broadcast arm): the static directed edge
list is hash-clustered on src once and persisted; each round exchanges
only the |V|-row score vectors (broadcast joins against the resident
edges — zero edge movement), the two norm scalars are 1-row broadcast
crossJoins (in-plan, no collect), and each half-round's raw vector is
eagerly materialized (see `hits` for why that cadence is forced here,
unlike pagerank's knob).  The copartition fallback for rank vectors
too big to broadcast is the same switch documented on `pagerank`
(operators/graph.py) and applies identically — the state here is two
doubles per node instead of one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .graph import _PR_ITERS, _TRADE_EDGES_SQL, _decode_node, _decode_sql, trade_edges

_HITS_ITERS = _PR_ITERS  # 10 — same fixed-unroll contract as PageRank


def hits(
    spark: SparkSession,
    edges: DataFrame,
    iters: int = _HITS_ITERS,
) -> DataFrame:
    """Power-method HITS over a directed edge list ``(src, dst)``.

    Per round: auth_raw(v) = round(Σ_{u→v} hub(u), 12); auth =
    round(auth_raw / ‖auth_raw‖₂, 12) with the norm itself computed as
    round(sqrt(round(Σ auth_raw², 12)), 12); then the hub step reads the
    FRESH auth (textbook update order).  The 12-dp rounding after every
    aggregate is the determinism contract with the unrolled-CTE oracle —
    identical inputs + identical IEEE ops in identical order ⇒ both
    engines stay bit-comparable round by round (same recipe as
    `pagerank`, operators/graph.py).

    Loop discipline differs from pagerank's cadence knob for a reason:
    each round reads its two contribution vectors TWICE each (the norm
    aggregate and the divide), so naive per-round chaining squares the
    plan — measured 29 s warm at sf0.01 for a 2-round cadence.  One
    eager localCheckpoint of the |V|-row hub vector per round bounds
    lineage to a single round.

    r13: the norm is computed as a WINDOW aggregate over the raw
    contribution vector (empty partition spec — all |V| rows meet in
    one partition, a |V|-row exchange) instead of a separate 1-row agg
    + crossJoin(broadcast).  Why this matters after r12 removed the
    per-round agg exchanges: the old shape referenced araw/hraw twice
    (norm subtree + divide subtree) and relied on EXCHANGE REUSE to
    dedup them — with the aggregates now exchange-free there is no
    exchange to reuse, so each half-round's edge join + agg executed
    TWICE per round (4 edge joins/round, visible as the residual ~9 s
    wall with near-zero shuffle).  The window form references each raw
    vector exactly ONCE (2 edge joins/round) and drops 2 of the 4
    broadcast-build waves per round.  Summation order inside the window
    differs from the hash-agg order, which is within the 12-dp
    round-after-every-aggregate contract (the same contract that lets
    DuckDB's summation order match at all); re-verified against the
    unrolled oracle at sf0.001/0.01/0.1.  Only score vectors are ever
    exchanged/materialized — the edge list stays resident and is never
    moved (broadcast joins on both steps).

    Score frames carry only the NONZERO side each round (nodes absent
    from ``hub`` contribute nothing to the next auth sum — identical
    semantics, no per-round recombine join); the full (node, hub, auth)
    frame with exact 0.0 on the off sides is assembled once at the
    end."""
    import os

    n_part = os.environ.get("MMBD_CC_SHUFFLE_PARTITIONS", "8")
    # r12: repartition BEFORE distinct — the dedup rides the one-time
    # src-clustering exchange instead of paying its own (set-identical;
    # the graph.pagerank move).
    ed = edges.select("src", "dst").repartition(int(n_part), "src").distinct().persist()
    # r12 (guide §2.4): a SECOND resident copy clustered on dst.  The
    # mutual recursion aggregates on BOTH endpoints every round — hub
    # rides ed's src-clustering, but auth's groupBy(dst) paid a fresh
    # exchange per round (10 AQE shuffle stages over the contribution
    # vector).  Keeping a dst-clustered twin makes BOTH half-round aggs
    # exchange-free: per-round shuffle drops to ZERO, at the one-time
    # cost of one more |E| exchange + a second resident copy (the
    # broadcast arm already keeps edges resident; at copartition scale
    # the twin is the same O(|E|) storage class).  Derived FROM ed (not
    # the raw input) so the dedup work is not repeated.
    ed_dst = ed.repartition(int(n_part), "dst").persist()
    nodes = (
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    old_part = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n_part)
    try:
        from pyspark.sql.window import Window

        # the L2 norm as a window over the raw vector: one reference to
        # araw/hraw per round (see docstring — the post-r12 double-compute
        # fix), |V| rows through a single-partition window exchange
        wall = Window.partitionBy()
        hub = nodes.select("node", F.lit(1.0).alias("hub"))
        auth = None
        for it in range(iters):
            araw = (
                ed_dst.join(F.broadcast(hub), ed_dst.src == hub.node)
                .groupBy("dst")
                .agg(F.round(F.sum("hub"), 12).alias("ar"))
            )
            auth = araw.withColumn(
                "nrm_a",
                F.round(F.sqrt(F.round(F.sum(F.col("ar") * F.col("ar")).over(wall), 12)), 12),
            ).select(
                F.col("dst").alias("node"),
                F.round(F.col("ar") / F.col("nrm_a"), 12).alias("auth"),
            )
            if it == iters - 1:
                # the final auth feeds the output frame: materialize it so
                # the closing join does not re-run the round's edge join
                auth = auth.localCheckpoint(eager=True)
            hraw = (
                ed.join(F.broadcast(auth), ed.dst == auth.node)
                .groupBy("src")
                .agg(F.round(F.sum("auth"), 12).alias("hr"))
            )
            hub = (
                hraw.withColumn(
                    "nrm_h",
                    F.round(
                        F.sqrt(F.round(F.sum(F.col("hr") * F.col("hr")).over(wall), 12)), 12
                    ),
                )
                .select(
                    F.col("src").alias("node"),
                    F.round(F.col("hr") / F.col("nrm_h"), 12).alias("hub"),
                )
                .localCheckpoint(eager=True)
            )
        state = (
            nodes.join(F.broadcast(hub), "node", "left")
            .join(F.broadcast(auth), "node", "left")
            .select(
                "node",
                F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_part)
        ed_dst.unpersist()
        ed.unpersist()
    return state


def _sql_hits(iters: int = _HITS_ITERS) -> str:
    """The identical mutual-recursion power method as unrolled DuckDB
    MATERIALIZED CTEs — arithmetic parenthesized EXACTLY as the Spark
    side (round the contribution sum, round the squared-norm sum, sqrt,
    round, divide, round) so both engines stay bit-identical."""
    ctes = [
        f"""ed AS MATERIALIZED (
  {_TRADE_EDGES_SQL}
),
nodes AS MATERIALIZED (SELECT src AS node FROM ed UNION SELECT dst AS node FROM ed),
h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""ar{i} AS MATERIALIZED (
  SELECT ed.dst AS node, round(sum(h{i - 1}.hub), 12) AS ar
  FROM ed JOIN h{i - 1} ON ed.src = h{i - 1}.node GROUP BY ed.dst
),
na{i} AS MATERIALIZED (SELECT round(sqrt(round(sum(ar * ar), 12)), 12) AS n FROM ar{i}),
a{i} AS MATERIALIZED (
  SELECT node, round(ar / (SELECT n FROM na{i}), 12) AS auth FROM ar{i}
),
hr{i} AS MATERIALIZED (
  SELECT ed.src AS node, round(sum(a{i}.auth), 12) AS hr
  FROM ed JOIN a{i} ON ed.dst = a{i}.node GROUP BY ed.src
),
nh{i} AS MATERIALIZED (SELECT round(sqrt(round(sum(hr * hr), 12)), 12) AS n FROM hr{i}),
h{i} AS MATERIALIZED (
  SELECT node, round(hr / (SELECT n FROM nh{i}), 12) AS hub FROM hr{i}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT {_decode_sql("nodes.node")},
       round(coalesce(h.hub, 0.0), 6) AS hub,
       round(coalesce(a.auth, 0.0), 6) AS auth
FROM nodes LEFT JOIN h{iters} h ON nodes.node = h.node
           LEFT JOIN a{iters} a ON nodes.node = a.node
"""
    )


@register("q_hits", oracle=_sql_hits())
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the directed supplier→customer trade
    graph, 10 L2-normalized rounds — the two-vector mutual-recursion
    centrality (principal singular pair of the trade incidence matrix),
    oracle-checked against the same method unrolled into DuckDB CTEs."""
    state = hits(spark, trade_edges(spark, sf_dir))
    return state.select(
        *_decode_node(),
        F.round(F.col("hub"), 6).alias("hub"),
        F.round(F.col("auth"), 6).alias("auth"),
    )
