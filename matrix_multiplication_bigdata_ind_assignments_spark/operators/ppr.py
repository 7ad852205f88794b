"""TrustRank (SURVEY.md §2.3 north-star extension): PageRank whose
teleport lands on a seed set instead of uniformly — the trust-propagation
primitive of Gyöngyi et al., VLDB'04 ("Combating Web Spam with
TrustRank"), used in training-data pipelines to score crawl sources by
proximity to a trusted whitelist.

The loop is graph.pagerank with ``seed_mod`` (see its teleport
contract) and the oracle is graph._sql_pagerank with the same seed rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from .graph import _SEED_MOD, _decode_ranks, _sql_pagerank, pagerank, trade_edges


@register("q_trustrank", oracle=_sql_pagerank(seed_mod=_SEED_MOD))
def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank / personalized PageRank over the supplier↔customer
    trade graph: teleport mass lands only on the trusted seed suppliers
    (suppkey ≡ 0 mod 10), damping 0.85, 10 power rounds — trust decays
    with graph distance from the whitelist, the source-scoring signal a
    crawl-curation pipeline feeds into sampling weights.  Same unrolled-
    CTE oracle recipe as q_pagerank; seeds derived arithmetically so
    both engines agree on the set."""
    return _decode_ranks(pagerank(spark, trade_edges(spark, sf_dir), seed_mod=_SEED_MOD))
