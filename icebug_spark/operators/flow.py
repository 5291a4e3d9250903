"""Max-flow: Edmonds-Karp over a residual-capacity edge DataFrame.

Parity target: reference ``flow/EdmondsKarp.hpp:23`` with result API
getMaxFlow:38 / getSourceSet / getFlow / getFlowVector (:38-87).

Spark shape (SURVEY §2.9): the augmenting loop is inherently sequential
(each batch changes the residual graph), so the driver loop runs one BFS
phase per round — a distributed frontier expansion over the residual
edges that harvests ALL arc-disjoint shortest paths it finds (partial
Dinic blocking flow) and applies them as one residual update. Round
count is bounded by Dinic's O(V) phases rather than one-BFS-per-unit-of
-flow; each phase is O(diameter) Spark jobs. The residual table is
checkpointed per round to keep lineage flat. For bulk all-pairs
flow needs, prefer the Gomory-Hu-style sampling the reference also
lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def _bfs_aug_paths(
    residual: DataFrame,
    source: int,
    sink: int,
    max_hops: int = 64,
    max_paths: int = 64,
):
    """Shortest augmenting paths in the residual graph (capacity > 0).

    Returns a list of (arcs, bottleneck) for a set of ARC-DISJOINT
    shortest paths — a partial Dinic blocking-flow step. One BFS costs
    O(diameter) Spark jobs, so harvesting every disjoint shortest path
    it finds (instead of one path per BFS, Edmonds-Karp classic)
    collapses unit-bottleneck instances from one BFS PER UNIT OF FLOW to
    one BFS per level-graph phase. All harvested paths have the same
    (shortest) length, so the Edmonds-Karp O(VE) argument still applies;
    arc-disjointness makes simultaneous augmentation safe (each arc's
    capacity is decreased only by the one path using it — reverse-arc
    interactions only ADD capacity).

    The frontier carries (path array, mincap). Each hop: one checkpoint
    (keeps both the plan and the visited lineage flat — the step frame
    is referenced three times) + one fused action reading frontier size
    and up to ``max_paths`` sink-reaching candidates together."""
    spark = residual.sparkSession
    arcs = residual.where(F.col("cap") > 1e-12).select("src", "dst", "cap")
    frontier = spark.createDataFrame([(source,)], "node BIGINT").select(
        "node",
        F.array(F.col("node")).alias("path"),
        F.lit(float("inf")).alias("mincap"),
    )
    visited = frontier.select("node")
    for _hop in range(max_hops):
        expanded = (
            frontier.join(arcs, frontier.node == arcs.src)
            .select(
                F.col("dst").alias("node"),
                F.concat("path", F.array("dst")).alias("path"),
                F.least("mincap", "cap").alias("mincap"),
            )
            .join(visited, "node", "left_anti")
        )
        # one row per node continues the BFS (fattest path, deterministic
        # tie-break); sink-reaching candidates are kept SEPARATELY — one
        # per predecessor arc, fattest-first, bounded by max_paths
        step = checkpoint(expanded.groupBy("node").agg(
            F.max(F.struct("mincap", "path")).alias("best"),
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("node") == sink, F.struct("mincap", "path")
                        )
                    ),
                    False,
                ),
                1,
                max_paths,
            ).alias("sink_paths"),
        ))
        agg = step.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max(F.when(F.col("node") == sink, F.col("sink_paths"))).alias("hits"),
        ).collect()[0]
        if agg["cnt"] == 0:
            return None
        if agg["hits"]:
            # greedy arc-disjoint selection, fattest first (driver-side:
            # ≤ max_paths candidate paths of ≤ hop length each)
            used: set[tuple[int, int]] = set()
            out = []
            for cand in agg["hits"]:
                p = cand["path"]
                cand_arcs = list(zip(p[:-1], p[1:]))
                if any(a in used for a in cand_arcs):
                    continue
                used.update(cand_arcs)
                out.append((cand_arcs, float(cand["mincap"])))
            return out
        visited = visited.union(
            step.select("node")
        )
        frontier = step.select(
            "node", F.col("best.path").alias("path"), F.col("best.mincap").alias("mincap")
        )
    return None


def edmonds_karp(
    edges_capacity: DataFrame,
    source: int,
    sink: int,
    max_augmentations: int = 200,
) -> dict:
    """Max flow from source to sink on (src, dst, capacity) directed edges.

    Returns {"max_flow": float, "flow": DataFrame (src, dst, flow),
    "source_set": DataFrame (id)} — the reference's getMaxFlow /
    getFlowVector / getSourceSet surface."""
    spark = edges_capacity.sparkSession
    fwd = edges_capacity.select("src", "dst", F.col("capacity").cast("double").alias("cap"))
    bwd = edges_capacity.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(0.0).alias("cap")
    )
    residual = checkpoint(
        fwd.unionByName(bwd)
        .groupBy("src", "dst")
        .agg(F.sum("cap").alias("cap"))
    )
    max_flow = 0.0
    for _ in range(max_augmentations):
        paths = _bfs_aug_paths(residual, source, sink)
        if paths is None:
            break
        # apply the whole arc-disjoint batch in ONE residual update:
        # net delta per arc = Σ over paths (−b on used arc, +b on reverse)
        delta_map: dict[tuple[int, int], float] = {}
        for arcs_list, bottleneck in paths:
            max_flow += bottleneck
            for u, v in arcs_list:
                delta_map[(u, v)] = delta_map.get((u, v), 0.0) - bottleneck
                delta_map[(v, u)] = delta_map.get((v, u), 0.0) + bottleneck
        deltas = spark.createDataFrame(
            [(u, v, d) for (u, v), d in delta_map.items()],
            "src BIGINT, dst BIGINT, d DOUBLE",
        )
        residual = checkpoint(
            residual.join(deltas, ["src", "dst"], "left")
            .select(
                "src", "dst", (F.col("cap") + F.coalesce("d", F.lit(0.0))).alias("cap")
            )
        )
    # flow on original arcs = capacity - residual capacity (positive part)
    flow = (
        fwd.select("src", "dst", F.col("cap").alias("capacity"))
        .join(residual, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            F.greatest(
                F.col("capacity") - F.coalesce("cap", F.lit(0.0)), F.lit(0.0)
            ).alias("flow"),
        )
    )
    # source set: nodes reachable from source in final residual graph
    arcs = checkpoint(residual.where(F.col("cap") > 1e-12).select("src", "dst"))
    frontier = spark.createDataFrame([(source,)], "id BIGINT")
    reach = frontier
    for _ in range(64):
        frontier = checkpoint(
            frontier.join(arcs, frontier.id == arcs.src)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(reach, "id", "left_anti")
        )
        # frontiers are disjoint and individually checkpointed: plain
        # union keeps lineage flat with zero extra jobs per hop.
        if frontier.isEmpty():
            break
        reach = reach.union(frontier)
    return {"max_flow": max_flow, "flow": flow, "source_set": reach}
