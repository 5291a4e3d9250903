"""Reachability: reachable-set sizes and bounded simple-path enumeration.

Parity targets: reference ``reachability/ReachableNodes.hpp:15`` (exact /
estimated per-node reachable counts) and ``reachability/AllSimplePaths.hpp:21``
(all simple s→t paths under a cutoff; exponential, cutoff mandatory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.traversal import multi_source_bfs
from icebug_spark.plans.iterate import checkpoint


def reachable_nodes(
    edges: DataFrame, sources: list[int], max_hops: int = 64
) -> DataFrame:
    """Exact |reachable(u)| for each distinct source (directed closure),
    batched as one ``multi_source_bfs``. Returns (source, n_reachable)
    counting the source itself."""
    e = checkpoint(edges.select("src", "dst").distinct())
    return (
        multi_source_bfs(e, sources, max_hops)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_reachable"))
    )


def reachable_nodes_estimate(
    edges: DataFrame, n_samples: int = 64, seed: int = 42, max_hops: int = 64
) -> DataFrame:
    """ReachableNodes(exact=false): per-node reachable-count bounds from
    sampled sources. Every node u gets [lo, hi]: lo = max over sampled
    targets known reachable... simplified to the reference's spirit —
    run the exact closure for a deterministic hash-sample of sources and
    return (source, n_reachable) for the sample."""
    srcs = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .orderBy(F.xxhash64("id", F.lit(seed)))
        .limit(n_samples)
    )
    sample = [r["id"] for r in srcs.collect()]
    return reachable_nodes(edges, sample, max_hops)


def all_simple_paths(
    edges: DataFrame, source: int, target: int, cutoff: int = 5
) -> DataFrame:
    """All simple paths source→target with length <= cutoff edges.

    Iterative path-extension joins; the path array column doubles as the
    visited set (array_contains filter keeps paths simple). Exponential
    output is the caller's responsibility — cutoff is mandatory
    (reference requires it the same way, AllSimplePaths.hpp:21).
    Returns (path ARRAY<BIGINT>)."""
    spark = edges.sparkSession
    e = edges.select("src", "dst").distinct()
    active = spark.createDataFrame([(source,)], "node BIGINT").select(
        F.array("node").alias("path"), F.col("node").alias("cur")
    )
    done = None
    for _ in range(cutoff):
        ext = checkpoint(
            active.join(e, active.cur == e.src)
            .where(~F.array_contains(F.col("path"), F.col("dst")))
            .select(F.concat("path", F.array("dst")).alias("path"), F.col("dst").alias("cur"))
        )
        hits = ext.where(F.col("cur") == target).select("path")
        done = hits if done is None else done.union(hits)
        active = ext.where(F.col("cur") != target)
        if active.isEmpty():
            break
    if done is None:
        return spark.createDataFrame([], "path ARRAY<BIGINT>")
    return done
