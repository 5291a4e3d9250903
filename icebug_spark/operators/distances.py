"""Distance analytics: eccentricity, diameter (double sweep estimate),
neighborhood function / effective diameter, algebraic distance.

Parity targets: reference ``distance/Eccentricity.hpp:21``,
``Diameter.hpp:16,35`` (ESTIMATED_RANGE via double sweep),
``NeighborhoodFunction.hpp:19`` / ``EffectiveDiameter.hpp:19`` (exact
iterated neighborhood) / ``EffectiveDiameterApproximation.hpp:24`` (ANF
sketches — the exact variant here; the HLL-sketch path is the scale-out
follow-up), ``AlgebraicDistance.hpp:21``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.traversal import bfs_distances, multi_source_bfs
from icebug_spark.plans.iterate import checkpoint, mirror


def eccentricity(edges_undirected: DataFrame, sources: list[int]) -> DataFrame:
    """(id, eccentricity): max BFS distance per sampled source."""
    d = multi_source_bfs(edges_undirected, sources)
    return d.groupBy(F.col("source").alias("id")).agg(
        F.max("dist").alias("eccentricity")
    )


def diameter_double_sweep(edges_undirected: DataFrame, start: int = 0) -> DataFrame:
    """Diameter lower bound by double sweep (reference Diameter.hpp
    ESTIMATED_RANGE core): BFS from start → farthest node u (ties → min
    id), BFS from u → max distance. Single row (diameter_lb BIGINT)."""
    d1 = bfs_distances(edges_undirected, start)
    far = (
        d1.orderBy(F.desc("dist"), F.asc("id")).limit(1).collect()[0]["id"]
    )
    d2 = bfs_distances(edges_undirected, int(far))
    return d2.agg(F.max("dist").cast("long").alias("diameter_lb"))


def neighborhood_function(
    edges_undirected: DataFrame, sources: list[int], max_h: int = 4
) -> DataFrame:
    """N(h) = #pairs (s, v) with dist(s,v) <= h, for the sampled sources
    (reference NeighborhoodFunction.hpp:19 computes all sources; the
    sampled variant is NeighborhoodFunctionHeuristic). → (h, n_pairs)."""
    d = multi_source_bfs(edges_undirected, sources, max_hops=max_h)
    spark = edges_undirected.sparkSession
    hs = spark.range(1, max_h + 1).select(F.col("id").alias("h"))
    return (
        hs.join(d.where(F.col("dist") > 0), F.col("dist") <= F.col("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def effective_diameter(
    edges_undirected: DataFrame, sources: list[int], ratio: float = 0.9, max_h: int = 10
) -> DataFrame:
    """Smallest h with N(h) >= ratio · N(max_h) over the source sample
    (reference EffectiveDiameter.hpp:19, ratio=0.9). Single row
    (effective_diameter BIGINT)."""
    nf = checkpoint(neighborhood_function(edges_undirected, sources, max_h))
    total = nf.agg(F.max("n_pairs")).collect()[0][0] or 0
    row = (
        nf.where(F.col("n_pairs") >= ratio * total)
        .agg(F.min("h").cast("long").alias("effective_diameter"))
    )
    return row


def algebraic_loads(
    edges_undirected: DataFrame,
    n_systems: int = 4,
    rounds: int = 5,
    omega: float = 0.5,
    seed: int = 42,
) -> tuple[DataFrame, int]:
    """The shared load-vector iteration behind :func:`algebraic_distance`
    and ``linkpred2.algebraic_distance_index`` (reference
    ``AlgebraicDistance.hpp:21`` / ``AlgebraicDistanceIndex.cpp:16``,
    identical update): Jacobi over-relaxation
    x ← (1−ω)x + ω·avg(neighbors) on hash-seeded random vectors.
    → ((id, x0..x{k-1}) table, n) — n sizes downstream mirror() hints."""
    eu = checkpoint(edges_undirected.select("src", "dst"))
    nodes = eu.select(F.col("src").alias("id")).distinct()
    n = nodes.count()  # sizes the mirror() hints below
    cols = []
    for k in range(n_systems):
        u = (
            F.pmod(F.xxhash64("id", F.lit(k), F.lit(seed)), F.lit(1 << 30)).cast("double")
            / (1 << 30)
        )
        cols.append(u.alias(f"x{k}"))
    x = checkpoint(nodes.select("id", *cols))
    for _ in range(rounds):
        nb = (
            # mirror(): the edge table never moves — broadcast under the
            # vertex cap, shuffle-hash past it
            eu.join(mirror(x, n).withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(*[F.avg(f"x{k}").alias(f"a{k}") for k in range(n_systems)])
        )
        x = checkpoint(
            x.join(mirror(nb, n), "id", "left")
            .select(
                "id",
                *[
                    (
                        (1 - omega) * F.col(f"x{k}")
                        + omega * F.coalesce(F.col(f"a{k}"), F.col(f"x{k}"))
                    ).alias(f"x{k}")
                    for k in range(n_systems)
                ],
            )
        )
    return x, n


def algebraic_distance(
    edges_undirected: DataFrame,
    n_systems: int = 4,
    rounds: int = 5,
    omega: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Algebraic distance (reference AlgebraicDistance.hpp:21): iterate
    Jacobi over-relaxation x ← (1−ω)x + ω·avg(neighbors) on seeded random
    vectors; per-edge distance = Σ_k |x_k(u) − x_k(v)|. Deterministic via
    hash-seeded init. → (src, dst, alg_dist) 6dp."""
    eu = checkpoint(edges_undirected.select("src", "dst"))
    x, n = algebraic_loads(eu, n_systems, rounds, omega, seed)
    dist = None
    j = (
        eu.join(mirror(x, n).withColumnRenamed("id", "src"), "src")
        .join(
            mirror(x, n).select(
                F.col("id").alias("dst"),
                *[F.col(f"x{k}").alias(f"y{k}") for k in range(n_systems)],
            ),
            "dst",
        )
    )
    expr = sum(
        (F.abs(F.col(f"x{k}") - F.col(f"y{k}")) for k in range(n_systems)),
        F.lit(0.0),
    )
    return j.select("src", "dst", F.round(expr, 6).alias("alg_dist"))
