"""The benchmark's workloads: fixed query lists over seeded inputs.

A row is one call into the engine's public surface, either a registry
query (checked against its DuckDB oracle) or an
``operators.matrix.multiply`` call over operands derived from lineitem
(checked against a numpy product of the same operands).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np

PKG = "matrix_multiplication_bigdata_ind_assignments_spark"

#: B operand's extra shift over A's (A gets ``seed``, B ``seed + 7``).
B_SHIFT = 7


@dataclass(frozen=True)
class Operand:
    """``mat_from_lineitem(n, shift)``."""

    n: int
    shift: int


@dataclass(frozen=True)
class Row:
    name: str
    module: str
    #: registry query name, or None for a multiply row
    query: str | None = None
    a: Operand | None = None
    b: Operand | None = None
    kwargs: dict = field(default_factory=dict)
    #: dense rows count 2n³ flops toward matrix.gflop_per_s
    dense: bool = False


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    rows: Callable[[int], list[Row]]
    why: str


def _mm(name: str, n: int, seed: int, **kw) -> Row:
    return Row(
        name=name,
        module="matrix",
        a=Operand(n, seed),
        b=Operand(n, seed + B_SHIFT),
        kwargs=kw,
        dense=True,
    )


def _q(name: str, module: str) -> Row:
    return Row(name=name, module=module, query=name)


def _matmul_rows(seed: int) -> list[Row]:
    return [
        # plans.choose_block_size picks bs=512 at n=1024, which needs
        # 2·bs·n·8 B = 8 MB of panels per task; the 4 MB budget forces the
        # 3-D decomposition: dense-tile GEMMs, then a partial-sum pass
        _mm("matmul_blocked_n1024_3d", 1024, seed, strategy="blocked", panel_bytes=4 << 20),
    ]


def _graph_rows(seed: int) -> list[Row]:
    return [_q("q_pagerank", "graph")]


def _llm_rows(seed: int) -> list[Row]:
    return [
        _q("q_dedup_embedding", "dedup"),
        _q("q_ann_ivf_assign", "similarity"),
        _q("q_phash_values", "multimodal"),
    ]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "matmul_dense",
            0.02,
            _matmul_rows,
            "dense blocked matmul: the largest Python/Arrow tiles and shuffles, no driver loop",
        ),
        Workload(
            "graph_sparse",
            0.01,
            _graph_rows,
            "sparse mat-vec loops bound by the Spark driver and scheduler, no Python UDF",
        ),
        Workload(
            "llm_curation",
            0.01,
            _llm_rows,
            "many small Python-UDF batches with tiny shuffles and single-task stages",
        ),
    )
}


# --------------------------------------------------------------------------
# operands and their numpy reference
# --------------------------------------------------------------------------


def operand_df(spark, sf_dir: str, op: Operand):
    """The COO operand as a Spark DataFrame: ``bench.py``'s
    ``mat_from_lineitem`` recipe."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.select(
            ((F.col("l_orderkey") + op.shift) % op.n).alias("i"),
            ((F.col("l_partkey") + 3 * op.shift) % op.n).alias("j"),
            F.col("l_quantity").alias("v"),
        )
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
    )


def operand_np(lineitem: dict[str, np.ndarray], op: Operand) -> np.ndarray:
    """The same operand as a dense numpy array."""
    i = (lineitem["l_orderkey"] + op.shift) % op.n
    j = (lineitem["l_partkey"] + 3 * op.shift) % op.n
    m = np.zeros((op.n, op.n))
    np.add.at(m, (i, j), lineitem["l_quantity"])
    return m


def digest_np(c: np.ndarray) -> tuple[int, float, float]:
    """(nonzeros, Σv, Σ v·w(i,j)) of a dense product, w(i,j) = (31i + 17j) mod 97."""
    ii, jj = np.indices(c.shape)
    return int(np.count_nonzero(c)), float(c.sum()), float((c * ((ii * 31 + jj * 17) % 97)).sum())


def digest_df(df) -> tuple[int, float, float]:
    """The same digest of a COO result, computed by Spark."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.when(F.col("v") != 0, 1)).alias("nnz"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * ((F.col("i") * 31 + F.col("j") * 17) % 97)).alias("s2"),
    ).first()
    return int(r["nnz"]), float(r["s1"] or 0.0), float(r["s2"] or 0.0)


def digests_match(got: tuple, want: tuple, rtol: float = 1e-9) -> bool:
    return got[0] == want[0] and all(
        abs(g - w) <= rtol * max(1.0, abs(w)) for g, w in zip(got[1:], want[1:])
    )


def useful_flops(a: np.ndarray, b: np.ndarray) -> float:
    """2·Σₖ nnz(A[:,k])·nnz(B[k,:]): the products with both factors nonzero."""
    return 2.0 * float(np.count_nonzero(a, axis=0) @ np.count_nonzero(b, axis=1))
