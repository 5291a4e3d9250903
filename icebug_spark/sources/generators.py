"""Synthetic graph generators as seeded spark.range pipelines.

Parity targets (reference generators/, 4,228 LoC): ErdosRenyiGenerator
``generators/ErdosRenyiGenerator.hpp:20``, RmatGenerator ``:25``,
WattsStrogatzGenerator ``:17``, RegularRingLatticeGenerator ``:18``,
StochasticBlockmodel ``:18``, ChungLuGenerator ``:32``,
BarabasiAlbertGenerator ``:19`` (sequential preferential attachment —
batched approximation here), ClusteredRandomGraphGenerator ``:24``.

Every generator is a pure function of (index, seed) via xxhash64 — no
driver-side RNG state, so generation is order-independent, reproducible,
and embarrassingly parallel at any scale (the reference's generators are
sequential RNG loops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.graph.core import Graph
from icebug_spark.plans.iterate import checkpoint

_DENOM = 1 << 30


def _u01(*cols) -> F.Column:
    """Deterministic uniform [0,1) from hashed columns."""
    return F.pmod(F.xxhash64(*cols), F.lit(_DENOM)).cast("double") / _DENOM


def erdos_renyi(
    spark: SparkSession, n: int, p: float, seed: int = 42, directed: bool = False
) -> Graph:
    """G(n,p): enumerate candidate pairs via range cross-filter. For the
    undirected variant pairs u<v are generated once. O(n²) candidate
    stream filtered JVM-side — for large sparse graphs prefer
    ``erdos_renyi_gnm`` (geometric skipping ≡ fixed edge count)."""
    pairs = (
        spark.range(n)
        .select(F.col("id").alias("src"))
        .join(spark.range(n).select(F.col("id").alias("dst")), how="cross")
    )
    pairs = pairs.where(
        (F.col("src") < F.col("dst"))
        if not directed
        else (F.col("src") != F.col("dst"))
    )
    e = pairs.where(_u01(F.col("src"), F.col("dst"), F.lit(seed)) < p)
    return Graph(e, directed=directed)


def erdos_renyi_gnm(
    spark: SparkSession, n: int, m: int, seed: int = 42, directed: bool = False
) -> Graph:
    """G(n,m)-style: m seeded random pairs (dedup'd; self-loops dropped) —
    the O(m) generator that scales to billions of edges."""
    r = spark.range(m)
    src = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(0)), F.lit(n))
    dst = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(1)), F.lit(n))
    e = r.select(src.alias("src"), dst.alias("dst")).where(
        F.col("src") != F.col("dst")
    )
    if not directed:
        e = e.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
    return Graph(e.distinct(), directed=directed)


def rmat(
    spark: SparkSession,
    scale: int,
    edge_factor: int = 8,
    a: float = 0.57,
    b: float = 0.19,
    c: float = 0.19,
    seed: int = 42,
) -> Graph:
    """R-MAT (RmatGenerator.hpp:25): each edge independently walks the
    2^scale × 2^scale adjacency quadtree; every quadrant choice is a pure
    hash of (edge index, level, seed) → perfect spark.range parallelism."""
    n = 1 << scale
    m = edge_factor * n
    e = spark.range(m)
    src = F.lit(0).cast("long")
    dst = F.lit(0).cast("long")
    for level in range(scale):
        u = _u01(F.col("id"), F.lit(level), F.lit(seed))
        bit_src = F.when(u >= a + b, 1).otherwise(0)
        bit_dst = F.when(
            (u >= a) & (u < a + b) | (u >= a + b + c), 1
        ).otherwise(0)
        src = src + F.shiftleft(bit_src.cast("long"), level)
        dst = dst + F.shiftleft(bit_dst.cast("long"), level)
    df = e.select(src.alias("src"), dst.alias("dst")).where(
        F.col("src") != F.col("dst")
    )
    return Graph(df.distinct(), directed=True)


def ring_lattice(spark: SparkSession, n: int, k: int) -> Graph:
    """RegularRingLatticeGenerator: node i connects to i+1..i+k (mod n)."""
    e = (
        spark.range(n)
        .select(F.col("id").alias("src"))
        .join(
            spark.range(1, k + 1).select(F.col("id").alias("off")), how="cross"
        )
        .select("src", F.pmod(F.col("src") + F.col("off"), F.lit(n)).alias("dst"))
    )
    return Graph(e, directed=False)


def watts_strogatz(
    spark: SparkSession, n: int, k: int, beta: float, seed: int = 42
) -> Graph:
    """WattsStrogatzGenerator: ring lattice + seeded rewiring of each edge
    with probability beta to a hash-chosen endpoint."""
    base = ring_lattice(spark, n, k).edges
    rewire = _u01(F.col("src"), F.col("dst"), F.lit(seed)) < beta
    new_dst = F.pmod(
        F.xxhash64(F.col("src"), F.col("dst"), F.lit(seed + 1)), F.lit(n)
    )
    e = base.select(
        "src",
        F.when(rewire & (new_dst != F.col("src")), new_dst)
        .otherwise(F.col("dst"))
        .alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return Graph(e.distinct(), directed=False)


def stochastic_block_model(
    spark: SparkSession,
    block_sizes: list[int],
    p_in: float,
    p_out: float,
    seed: int = 42,
) -> Graph:
    """StochasticBlockmodel: Bernoulli(p_in) within blocks, p_out across."""
    n = sum(block_sizes)
    bounds = []
    acc = 0
    for i, s in enumerate(block_sizes):
        bounds.append((acc, acc + s, i))
        acc += s
    block = F.lit(None).cast("long")
    expr = None
    for lo, hi, b in bounds:
        cond = (F.col("u") >= lo) & (F.col("u") < hi)
        expr = F.when(cond, b) if expr is None else expr.when(cond, b)
    pairs = (
        spark.range(n)
        .select(F.col("id").alias("src"))
        .join(spark.range(n).select(F.col("id").alias("dst")), how="cross")
        .where(F.col("src") < F.col("dst"))
    )
    # attach block ids via when-chain on each endpoint
    def blk(col):
        e2 = None
        for lo, hi, b in bounds:
            cond = (col >= lo) & (col < hi)
            e2 = F.when(cond, b) if e2 is None else e2.when(cond, b)
        return e2

    p = F.when(blk(F.col("src")) == blk(F.col("dst")), p_in).otherwise(p_out)
    e = pairs.where(_u01(F.col("src"), F.col("dst"), F.lit(seed)) < p)
    return Graph(e, directed=False)


def chung_lu(
    spark: SparkSession, weights: list[float], seed: int = 42
) -> Graph:
    """ChungLuGenerator.hpp:32: P(u~v) = min(1, w_u·w_v / Σw)."""
    n = len(weights)
    wdf = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)], ["id", "w"]
    )
    total = sum(weights)
    pairs = (
        wdf.select(F.col("id").alias("src"), F.col("w").alias("ws"))
        .join(wdf.select(F.col("id").alias("dst"), F.col("w").alias("wd")), how="cross")
        .where(F.col("src") < F.col("dst"))
    )
    p = F.least(F.lit(1.0), F.col("ws") * F.col("wd") / total)
    e = pairs.where(_u01(F.col("src"), F.col("dst"), F.lit(seed)) < p).select(
        "src", "dst"
    )
    return Graph(e, directed=False)


def barabasi_albert_batched(
    spark: SparkSession, n: int, m_per_node: int, seed: int = 42
) -> Graph:
    """BarabasiAlbertGenerator (sequential preferential attachment,
    ``generators/BarabasiAlbertGenerator.hpp:19``) — batched
    approximation (SURVEY §7 risk register): new nodes attach to targets
    drawn via the repeated-vertex trick (uniform over an edge-endpoint
    multiset of the previous batch), which reproduces the power-law
    degree bias without sequential state."""
    seed_graph = ring_lattice(spark, m_per_node + 1, 1)
    edges = seed_graph.edges
    batch = max(64, n // 8)
    lo = m_per_node + 1
    while lo < n:
        hi = min(n, lo + batch)
        prev_targets = checkpoint(
            edges.select(F.col("src").alias("t"))
            .union(edges.select(F.col("dst").alias("t")))
        )
        cnt = prev_targets.count()
        news = (
            spark.range(lo, hi)
            .select(F.col("id").alias("src"))
            .join(
                spark.range(m_per_node).select(F.col("id").alias("k")), how="cross"
            )
        )
        # pick the j-th element of the endpoint multiset via hash index;
        # the multiset is ranked with the two-pass zipWithIndex (a global
        # row_number window would funnel all 2m endpoints through one task)
        idx = F.pmod(F.xxhash64("src", "k", F.lit(seed)), F.lit(cnt))
        from icebug_spark.plans.zipindex import dense_index

        tgt = dense_index(prev_targets, ["t"], out="rn", assume_distinct=True)
        new_edges = (
            news.withColumn("rn", idx)
            .join(tgt, "rn")
            .select("src", F.col("t").alias("dst"))
            .where(F.col("src") != F.col("t"))
        )
        edges = checkpoint(edges.union(new_edges.select("src", "dst")).distinct())
        lo = hi
    return Graph(edges, directed=False)
