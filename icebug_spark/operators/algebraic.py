"""GraphBLAS-lite: semiring-parameterized sparse linear algebra over COO
DataFrames.

Parity targets (reference ``algebraic/``):
- Semirings.hpp:25-157 — ArithmeticSemiring, MinPlusSemiring,
  MaxPlusSemiring, MinMaxSemiring, MaxMinSemiring, IntLogicalSemiring,
  GaloisFieldSemiring;
- GraphBLAS.hpp:101 (MxM), :202 (MxV), :263 (eWiseAdd), :276 (eWiseMult),
  :288 (rowReduce), :310 (columnReduce);
- algebraic/algorithms/AlgebraicBFS.hpp:23 (min-plus MxV iteration),
  AlgebraicPageRank.hpp:25, AlgebraicTriangleCounting.hpp:20.

One representation: matrix = DataFrame (row BIGINT, col BIGINT, value
DOUBLE), vector = DataFrame (idx BIGINT, value DOUBLE) — both sparse,
implicit zeros (the semiring's ⊕-identity). MxM is the canonical
shuffle-join: A ⋈ B on inner dim, ⊗ per match, ⊕-aggregate by (row,col).
Catalyst broadcasts the small side automatically; for square-matrix
chains repartition both operands on the join key once and reuse.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


@dataclass(frozen=True)
class Semiring:
    """⊕ (aggregate) and ⊗ (combine) plus the ⊕-identity ("zero").

    add: aggregation Column builder (applied to a combined-value column);
    mul: per-row combine of two value Columns."""

    name: str
    add: Callable[[Column], Column]
    mul: Callable[[Column, Column], Column]
    zero: float


ARITHMETIC = Semiring("arithmetic", F.sum, lambda a, b: a * b, 0.0)
MIN_PLUS = Semiring("min_plus", F.min, lambda a, b: a + b, float("inf"))
MAX_PLUS = Semiring("max_plus", F.max, lambda a, b: a + b, float("-inf"))
MIN_MAX = Semiring("min_max", F.min, F.greatest, float("inf"))
MAX_MIN = Semiring("max_min", F.max, F.least, float("-inf"))
INT_LOGICAL = Semiring(
    "int_logical",
    lambda c: F.max(c),  # OR over {0,1}
    lambda a, b: F.least(a, b),  # AND over {0,1}
    0.0,
)


def mxm(a: DataFrame, b: DataFrame, sr: Semiring = ARITHMETIC) -> DataFrame:
    """C = A ⊕.⊗ B (GraphBLAS.hpp:101). a=(row,col,value), b=(row,col,value)."""
    bb = b.select(
        F.col("row").alias("col"), F.col("col").alias("bcol"), F.col("value").alias("bv")
    )
    return (
        a.join(bb, "col")
        .select("row", F.col("bcol").alias("col"), sr.mul(F.col("value"), F.col("bv")).alias("v"))
        .groupBy("row", "col")
        .agg(sr.add(F.col("v")).alias("value"))
    )


def mxv(a: DataFrame, x: DataFrame, sr: Semiring = ARITHMETIC) -> DataFrame:
    """y = A ⊕.⊗ x (GraphBLAS.hpp:202). x=(idx,value) → y=(idx,value)."""
    xx = x.select(F.col("idx").alias("col"), F.col("value").alias("xv"))
    return (
        a.join(xx, "col")
        .select("row", sr.mul(F.col("value"), F.col("xv")).alias("v"))
        .groupBy("row")
        .agg(sr.add(F.col("v")).alias("value"))
        .select(F.col("row").alias("idx"), "value")
    )


def e_wise_add(a: DataFrame, b: DataFrame, sr: Semiring = ARITHMETIC) -> DataFrame:
    """Element-wise ⊕ (union of patterns, GraphBLAS.hpp:263). Missing
    entries are the ⊕-identity, so a full-outer join + coalesce."""
    bb = b.select("row", "col", F.col("value").alias("bv"))
    zero = F.lit(sr.zero)
    joined = a.join(bb, ["row", "col"], "full").select(
        "row",
        "col",
        F.coalesce("value", zero).alias("av"),
        F.coalesce("bv", zero).alias("bv"),
    )
    # ⊕ of exactly two values: express via the aggregate over a 2-element
    # array would be overkill — all our semirings' ⊕ on two elements is a
    # closed form:
    two = {
        "arithmetic": F.col("av") + F.col("bv"),
        "min_plus": F.least("av", "bv"),
        "max_plus": F.greatest("av", "bv"),
        "min_max": F.least("av", "bv"),
        "max_min": F.greatest("av", "bv"),
        "int_logical": F.greatest("av", "bv"),
    }[sr.name]
    return joined.select("row", "col", two.alias("value"))


def e_wise_mult(a: DataFrame, b: DataFrame, sr: Semiring = ARITHMETIC) -> DataFrame:
    """Element-wise ⊗ (intersection of patterns, GraphBLAS.hpp:276)."""
    bb = b.select("row", "col", F.col("value").alias("bv"))
    return a.join(bb, ["row", "col"]).select(
        "row", "col", sr.mul(F.col("value"), F.col("bv")).alias("value")
    )


def row_reduce(a: DataFrame, sr: Semiring = ARITHMETIC) -> DataFrame:
    """(row, value): ⊕ over each row (GraphBLAS.hpp:288)."""
    return a.groupBy("row").agg(sr.add(F.col("value")).alias("value"))


def column_reduce(a: DataFrame, sr: Semiring = ARITHMETIC) -> DataFrame:
    """(col, value): ⊕ over each column (GraphBLAS.hpp:310)."""
    return a.groupBy("col").agg(sr.add(F.col("value")).alias("value"))


def adjacency_coo(edges: DataFrame, weighted: bool = False) -> DataFrame:
    """Edge list → COO adjacency (row=src, col=dst, value=weight|1)."""
    v = F.col("weight") if weighted else F.lit(1.0)
    return edges.select(
        F.col("src").alias("row"), F.col("dst").alias("col"), v.alias("value")
    )


def algebraic_bfs(edges: DataFrame, source: int, max_hops: int = 50) -> DataFrame:
    """AlgebraicBFS (algebraic/algorithms/AlgebraicBFS.hpp:23): min-plus
    MxV iteration of the distance vector; returns (idx, value=hops).

    Each round relaxes one hop: d ← d ⊕ (Aᵀ min.plus d). Converged when
    no entry improves (count of improved rows == 0)."""
    spark = edges.sparkSession
    at = edges.select(F.col("dst").alias("row"), F.col("src").alias("col"), F.lit(1.0).alias("value"))
    dist = spark.createDataFrame([(source, 0.0)], "idx BIGINT, value DOUBLE")
    for _ in range(max_hops):
        relaxed = mxv(at, dist, MIN_PLUS)
        new_dist = e_wise_add(
            dist.select(F.col("idx").alias("row"), F.lit(0).alias("col"), "value"),
            relaxed.select(F.col("idx").alias("row"), F.lit(0).alias("col"), "value"),
            MIN_PLUS,
        ).select(F.col("row").alias("idx"), "value")
        new_dist = checkpoint(new_dist)
        improved = (
            new_dist.join(dist.select("idx", F.col("value").alias("old")), "idx", "left")
            .where(F.col("old").isNull() | (F.col("value") < F.col("old")))
            .isEmpty()
        )
        dist = new_dist
        if improved:
            break
    return dist


def algebraic_triangle_count(edges_undirected: DataFrame) -> DataFrame:
    """AlgebraicTriangleCounting (hpp:20): trace(A³)/6 on the symmetric
    0/1 adjacency, computed as Σ_(i,j) A²[i,j]·A[j,i] / 6 — one MxM and
    one e_wise_mult instead of materializing A³."""
    a = (
        edges_undirected.where(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("row"), F.col("dst").alias("col"))
        .distinct()
        .withColumn("value", F.lit(1.0))
    )
    a2 = mxm(a, a, ARITHMETIC)
    at = a.select(F.col("col").alias("row"), F.col("row").alias("col"), "value")
    prod = e_wise_mult(a2, at, ARITHMETIC)
    return prod.agg((F.sum("value") / 6).cast("long").alias("n_triangles"))
