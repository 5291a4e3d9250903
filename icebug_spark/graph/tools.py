"""GraphTools surface — the reference's graph/"relational" utility layer
(reference ``graph/GraphTools.hpp``; SURVEY.md §2.1).

Everything is a pure DataFrame expression; ids are BIGINT, weights DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.graph.core import Graph
from icebug_spark.plans.iterate import checkpoint


def volume(g: Graph) -> float:
    """GraphTools::volume (GraphTools.hpp:149): sum of weighted degrees
    = 2·sum(weight) undirected / sum(weight) directed arcs."""
    w = F.col("weight") if g.weighted else F.lit(1.0)
    s = g.edges.agg(F.sum(w)).collect()[0][0] or 0.0
    return float(s if g.directed else 2.0 * s)


def max_degree(g: Graph) -> int:
    """GraphTools::maxDegree (GraphTools.hpp:24)."""
    row = g.degrees().agg(F.max("degree")).collect()[0][0]
    return int(row or 0)


def max_weighted_degree(g: Graph) -> float:
    row = g.weighted_out_degrees().agg(F.max("wdegree")).collect()[0][0]
    return float(row or 0.0)


def random_nodes(g: Graph, k: int, seed: int = 42) -> DataFrame:
    """GraphTools::randomNode(s) (GraphTools.hpp:56) — seeded,
    order-independent sampling: hash-rank by xxhash64(id, seed)."""
    return (
        g.vertices.withColumn("h", F.xxhash64("id", F.lit(seed)))
        .orderBy("h", "id")
        .limit(k)
        .select("id")
    )


def random_edges(g: Graph, k: int, seed: int = 42) -> DataFrame:
    """GraphTools::randomEdge(s) (GraphTools.hpp:83)."""
    return (
        g.edges.withColumn("h", F.xxhash64("src", "dst", F.lit(seed)))
        .orderBy("h", "src", "dst")
        .limit(k)
        .drop("h")
    )


def to_unweighted(g: Graph) -> Graph:
    """GraphTools::toUnweighted (GraphTools.hpp:312)."""
    return Graph(g.edges.select("src", "dst"), g._vertices, g.directed, False)


def to_weighted(g: Graph, default: float = 1.0) -> Graph:
    """GraphTools::toWeighted (GraphTools.hpp:321)."""
    if g.weighted:
        return g
    return Graph(
        g.edges.withColumn("weight", F.lit(default)), g._vertices, g.directed, True
    )


def append_graph(a: Graph, b: Graph) -> Graph:
    """GraphTools::append (GraphTools.hpp:338): disjoint union — b's node
    ids are shifted past a's max id."""
    offset = (a.vertices.agg(F.max("id")).collect()[0][0] or -1) + 1
    cols = ["src", "dst"] + (["weight"] if a.weighted and b.weighted else [])
    b_edges = b.edges.select(
        (F.col("src") + offset).alias("src"),
        (F.col("dst") + offset).alias("dst"),
        *([F.col("weight")] if "weight" in cols else []),
    )
    return Graph(
        a.edges.select(*cols).unionByName(b_edges),
        None,
        a.directed,
        "weight" in cols,
    )


def merge_graphs(a: Graph, b: Graph) -> Graph:
    """GraphTools::merge (GraphTools.hpp:347): union on shared id space."""
    cols = ["src", "dst"]
    return Graph(
        a.edges.select(*cols).unionByName(b.edges.select(*cols)).distinct(),
        None,
        a.directed,
        False,
    )


def compact_node_ids(g: Graph) -> tuple[Graph, DataFrame]:
    """getCompactedGraph/getContinuousNodeIds (GraphTools.hpp:355-375):
    relabel nodes to dense 0..n-1 by ascending old id. Returns
    (new graph, mapping(old_id, new_id)).

    Scale shape: two-pass zipWithIndex, not a global ``row_number``
    window (``Window.orderBy`` with no partitionBy plans an Exchange
    SinglePartition — ONE task ranks the whole vertex set, the classic
    global-rank bottleneck at 1e9 nodes). Pass 1 range-partitions by id
    and counts each partition (tiny P-row collect); pass 2 ranks WITHIN
    each range partition in parallel and adds the cumulative offset of
    the partitions before it. The mapping is deterministic — dense rank
    by ascending id — regardless of where the range boundaries land.
    (Shared implementation: ``plans.zipindex.dense_index``.)"""
    from icebug_spark.plans.zipindex import dense_index

    mapping = (
        dense_index(g.vertices, ["id"], out="new_id", assume_distinct=True)
        .withColumnRenamed("id", "old_id")
    )
    e = (
        g.edges.join(mapping.withColumnRenamed("old_id", "src"), "src")
        .withColumnRenamed("new_id", "new_src")
        .join(mapping.withColumnRenamed("old_id", "dst"), "dst")
        .withColumnRenamed("new_id", "new_dst")
    )
    cols = [F.col("new_src").alias("src"), F.col("new_dst").alias("dst")] + (
        [F.col("weight")] if g.weighted else []
    )
    return Graph(e.select(*cols), None, g.directed, g.weighted), mapping


def restore_graph(g: Graph, mapping: DataFrame) -> Graph:
    """GraphTools::restoreGraph (GraphTools.hpp:388): invert a compaction."""
    inv = mapping.select(
        F.col("new_id").alias("id"), F.col("old_id")
    )
    e = (
        g.edges.join(inv.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("old_id", "old_src")
        .join(inv.withColumnRenamed("id", "dst"), "dst")
        .withColumnRenamed("old_id", "old_dst")
    )
    cols = [F.col("old_src").alias("src"), F.col("old_dst").alias("dst")] + (
        [F.col("weight")] if g.weighted else []
    )
    return Graph(e.select(*cols), None, g.directed, g.weighted)


def sort_edges_by_weight(g: Graph, descending: bool = False) -> DataFrame:
    """GraphTools::sortEdgesByWeight (GraphTools.hpp:411) — total order
    with (weight, src, dst) tie-break."""
    order = [F.desc("weight") if descending else F.asc("weight"), "src", "dst"]
    return g.edges.orderBy(*order)


def randomize_weights(g: Graph, seed: int = 42) -> Graph:
    """GraphTools::randomizeWeights (GraphTools.hpp:453) — seeded uniform
    [0,1) weights, order-independent (hash of the edge key, not rand())."""
    u = (F.pmod(F.xxhash64("src", "dst", F.lit(seed)), F.lit(1 << 30)).cast("double")
         / (1 << 30))
    return Graph(
        g.edges.select("src", "dst", u.alias("weight")), g._vertices, g.directed, True
    )


def topological_sort(g: Graph, max_iter: int = 10000) -> DataFrame:
    """TopologicalSort (graph/TopologicalSort.hpp:22) via iterative
    frontier peeling: layer k = nodes whose in-degree within the remaining
    graph is 0. Returns (id, layer) — a valid topological order is (layer,
    id). Raises on cycles. Rounds = DAG depth (each round one anti-join)."""
    edges = checkpoint(g.edges.select("src", "dst"))
    remaining = checkpoint(g.vertices.select("id"))
    spark = edges.sparkSession
    out = []
    layer = 0
    while True:
        n_remaining = remaining.count()
        if n_remaining == 0:
            break
        if layer > max_iter:
            raise ValueError("topological_sort: max_iter exceeded")
        has_in = edges.join(remaining.withColumnRenamed("id", "src"), "src", "leftsemi")
        blocked = has_in.select(F.col("dst").alias("id")).distinct()
        frontier = checkpoint(remaining.join(blocked, "id", "left_anti"))
        if frontier.count() == 0:
            raise ValueError("topological_sort: graph has a cycle")
        out.append(frontier.withColumn("layer", F.lit(layer).cast("long")))
        remaining = checkpoint(remaining.join(frontier, "id", "left_anti"))
        edges = checkpoint(edges.join(frontier.withColumnRenamed("id", "src"), "src", "left_anti"))
        layer += 1
    if not out:
        return spark.createDataFrame([], "id long, layer long")
    res = out[0]
    for df in out[1:]:
        res = res.union(df)
    return res


def is_bipartite(g: Graph, max_iter: int = 50) -> bool:
    """GraphTools::isBipartite (GraphTools.hpp:583): 2-coloring via BFS
    layering per component — bipartite iff no edge joins nodes whose hop
    distances from their component root share parity. Implemented as
    min-label + parity propagation."""
    eu = checkpoint(g.symmetrized())
    # state: (id, root, parity) — start every node as its own root, then
    # keep the minimum (root, parity-path); converges like min-label CC
    state = eu.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("root"), F.lit(0).alias("parity")
    )
    for _ in range(max_iter):
        msgs = (
            eu.join(state.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("dst").alias("id"),
                "root",
                (1 - F.col("parity")).alias("parity"),
            )
        )
        # keep the lexicographic min (root, parity): monotone decreasing →
        # converges; in a non-bipartite component odd walks eventually give
        # every node parity 0, which the conflict scan below detects
        merged = (
            state.select("id", "root", "parity")
            .union(msgs)
            .groupBy("id")
            .agg(F.min(F.struct("root", "parity")).alias("s"))
            .select("id", F.col("s.root").alias("root"), F.col("s.parity").alias("parity"))
        )
        changed = (
            merged.alias("n")
            .join(state.alias("o"), "id")
            .where(
                (F.col("n.root") != F.col("o.root"))
                | (F.col("n.parity") != F.col("o.parity"))
            )
            .limit(1)
            .count()
        )
        state = checkpoint(merged)
        if changed == 0:
            break
    conflict = (
        eu.join(state.select(F.col("id").alias("src"), F.col("parity").alias("ps")), "src")
        .join(state.select(F.col("id").alias("dst"), F.col("parity").alias("pd")), "dst")
        .where(F.col("ps") == F.col("pd"))
        .limit(1)
        .count()
    )
    return conflict == 0


def has_edge(g: Graph, u: int, v: int) -> bool:
    """GraphW::hasEdge parity (``graph/Graph.hpp``): arc (u, v) present —
    for undirected graphs either orientation counts. One pushed-down
    filter + limit(1), no scan of the full edge set."""
    e = g.edges.where((F.col("src") == u) & (F.col("dst") == v))
    if not g.directed:
        e = e.union(
            g.edges.where((F.col("src") == v) & (F.col("dst") == u))
        )
    return e.limit(1).count() > 0


def edge_weight(g: Graph, u: int, v: int, default: float | None = None) -> float | None:
    """GraphW::weight(u, v) parity: weight of the arc, ``default`` when
    absent (reference returns 0/1 by convention; explicit here)."""
    if not g.weighted:
        return 1.0 if has_edge(g, u, v) else default
    e = g.edges.where((F.col("src") == u) & (F.col("dst") == v))
    if not g.directed:
        e = e.union(
            g.edges.where((F.col("src") == v) & (F.col("dst") == u))
        )
    rows = e.select("weight").limit(1).collect()
    return float(rows[0]["weight"]) if rows else default


def edge_ids(g: Graph) -> DataFrame:
    """GraphW::edgeId surface (indexEdges + edgeId(u, v)): stable dense
    edge ids as a column — (src, dst, edge_id), ordered by (src, dst).
    The reference materializes ids once after indexEdges(); here the id
    table IS the lookup structure (join against it for batched lookups —
    point lookups at scale should hit a bucketed/sorted copy)."""
    from icebug_spark.plans.zipindex import dense_index

    return dense_index(
        g.edges.select("src", "dst").distinct(),
        ["src", "dst"],
        out="edge_id",
        assume_distinct=True,
    )
