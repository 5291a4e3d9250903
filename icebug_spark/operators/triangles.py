"""Triangle counting and clustering coefficients.

Parity targets: reference ``centrality/LocalClusteringCoefficient.hpp:18``,
``global/ClusteringCoefficient.hpp:18``, triangle edge scores
(``edgescores/TriangleEdgeScore.hpp:28``).

Strategy (scale-first): canonicalize the undirected edge set to u < v,
enumerate wedges by joining on the middle node, close with a semi-join
against the canonical edge set. With degree-ordered orientation the wedge
join is O(sum deg^{3/2}) — the standard distributed triangle algorithm.
For the t2 oracle queries we keep id-ordered orientation (u<v<w) so the
SQL twin is textually obvious; degree-ordered orientation is a drop-in
(order by (degree, id)) when hub skew demands it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def canonical_edges(edges_undirected: DataFrame) -> DataFrame:
    """Undirected edge set as u < v rows (self-loops dropped)."""
    e = edges_undirected.select("src", "dst")
    return (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )


def build_triangle_kernel(
    c: DataFrame, materialize: bool = False
) -> tuple[DataFrame, DataFrame, bool]:
    """(oriented, adj, small) — the shared artifacts of the triangle
    family, from a checkpointed canonical edge set.

    Degree-ordered orientation (the standard distributed algorithm): every
    canonical edge is directed from its lower-(degree, id) endpoint to the
    higher one, so each node's out-degree is O(sqrt(m)) and the wedge join
    is bounded by sum(outdeg^2) ≈ m^1.5 — id-ordered orientation instead
    explodes on hub nodes. ``adj`` is each node's sorted oriented
    out-list.

    Size-adaptive: below ``spark.icebug.triangleBroadcastEdges`` (small)
    the degree table and the adjacency arrays are broadcast (payload ≈ m
    longs) so the kernel is two shuffles and the edge stream never moves
    again; past the cap — 1e9-edge graphs where an adjacency broadcast
    would OOM executors — every join is the shuffled shape and both
    artifacts are checkpointed regardless of ``materialize``.

    ``materialize=True`` eagerly checkpoints ``adj`` — the session-memo
    path (``catalog.derived_triangle_kernel``) uses it so q24/q25/
    edge-score queries pay the adjacency build ONCE. ``oriented`` is NOT
    checkpointed on the small path even then: it is a pure broadcast
    join over the checkpointed C (no shuffle), so recomputing it per
    consumer is cheaper than a blocking checkpoint job (measured at
    sf0.1: ckpt 1.2 s vs recompute ~0.3 s inside the consumer stage).
    One-off small calls leave both lazy and rely on ReuseExchange
    canonicalizing the two broadcast builds into one."""
    m = c.count()
    cap = int(
        c.sparkSession.conf.get("spark.icebug.triangleBroadcastEdges", "5000000")
    )
    small = m <= cap
    hint = F.broadcast if small else (lambda df: df)
    deg = (
        c.select(F.col("u").alias("id"))
        .union(c.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        c.join(hint(deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))), "u")
        .join(hint(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
    )
    if not small:
        oriented = checkpoint(oriented)
    adj = oriented.groupBy("x").agg(
        F.sort_array(F.collect_list("y")).alias("nbrs")
    )
    if materialize or not small:
        adj = checkpoint(adj)
    return oriented, adj, small


def triangles(
    edges_undirected: DataFrame,
    canon: DataFrame | None = None,
    kernel: tuple[DataFrame, DataFrame, bool] | None = None,
) -> DataFrame:
    """All triangles as (a, b, c), each exactly once, a < b < c by id.

    ``canon``: pre-materialized ``canonical_edges`` output; ``kernel``: a
    pre-built ``build_triangle_kernel`` result — pass the session-memoized
    one (``catalog.derived_triangle_kernel``) so consecutive triangle-ish
    queries share the orientation + adjacency build.

    Adjacency-array intersection instead of the explicit wedge self-join:
    every oriented edge (x, y) closes a triangle per element of
    out(x) ∩ out(y) — array_intersect runs inside whole-stage codegen,
    and the shuffle is m edge rows instead of sum(outdeg²) wedge rows
    (measured 3x on the sf0.1 bench; same m^1.5 work bound, far less
    data movement)."""
    if kernel is None:
        c = (
            checkpoint(canonical_edges(edges_undirected))
            if canon is None
            else canon
        )
        kernel = build_triangle_kernel(c)
    oriented, adj, small = kernel
    hint = F.broadcast if small else (lambda df: df)
    tri = (
        oriented.join(
            hint(adj.select(F.col("x").alias("xx"), F.col("nbrs").alias("na"))),
            F.col("x") == F.col("xx"),
        )
        .join(
            hint(adj.select(F.col("x").alias("yy"), F.col("nbrs").alias("nb"))),
            F.col("y") == F.col("yy"),
        )
        .select("x", "y", F.explode(F.array_intersect("na", "nb")).alias("z"))
    )
    ids = F.array_sort(F.array("x", "y", "z"))
    return tri.select(
        ids[0].alias("a"), ids[1].alias("b"), ids[2].alias("c")
    )


def triangle_count(
    edges_undirected: DataFrame,
    canon: DataFrame | None = None,
    kernel: tuple | None = None,
) -> DataFrame:
    """Single row (n_triangles BIGINT). Counts |out(x) ∩ out(y)| sizes
    directly (no per-triangle explode — the count never materializes
    triangle rows)."""
    if kernel is None:
        c = (
            checkpoint(canonical_edges(edges_undirected))
            if canon is None
            else canon
        )
        kernel = build_triangle_kernel(c)
    oriented, adj, small = kernel
    hint = F.broadcast if small else (lambda df: df)
    return (
        oriented.join(
            hint(adj.select(F.col("x").alias("xx"), F.col("nbrs").alias("na"))),
            F.col("x") == F.col("xx"),
        )
        .join(
            hint(adj.select(F.col("x").alias("yy"), F.col("nbrs").alias("nb"))),
            F.col("y") == F.col("yy"),
        )
        .select(F.size(F.array_intersect("na", "nb")).alias("k"))
        .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("n_triangles"))
    )


def node_triangle_counts(
    edges_undirected: DataFrame,
    canon: DataFrame | None = None,
    tri: DataFrame | None = None,
    kernel: tuple | None = None,
) -> DataFrame:
    """(id, n_tri): triangles incident to each node. ``tri``: a
    pre-computed ``triangles`` output to reuse."""
    t = (
        triangles(edges_undirected, canon=canon, kernel=kernel)
        if tri is None
        else tri
    )
    nodes = (
        t.select(F.col("a").alias("id"))
        .union(t.select(F.col("b").alias("id")))
        .union(t.select(F.col("c").alias("id")))
    )
    return nodes.groupBy("id").agg(F.count(F.lit(1)).alias("n_tri"))


def _canon_degrees(c: DataFrame) -> DataFrame:
    return (
        c.select(F.col("u").alias("id"))
        .union(c.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def global_clustering_coefficient(edges_undirected: DataFrame) -> DataFrame:
    """Single row (global_cc DOUBLE, avg_cc DOUBLE), rounded 6dp.

    global_cc = 3*triangles / wedges (transitivity,
    ``global/GlobalClusteringCoefficient.hpp:17``); avg_cc = mean of the
    per-node local coefficients over degree>=2 nodes
    (``global/ClusteringCoefficient.hpp:18`` avg variant).

    One canonical edge set and ONE triangle enumeration feed all three
    aggregates (total count, per-node counts, wedge count)."""
    c = checkpoint(canonical_edges(edges_undirected))
    deg = _canon_degrees(c)
    wedges = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).alias("n_wedges")
    )
    tri_df = checkpoint(triangles(edges_undirected, canon=c))
    tri = tri_df.agg(F.count(F.lit(1)).alias("n_triangles"))
    lcc = local_clustering_coefficient(edges_undirected, canon=c, tri=tri_df)
    avg = lcc.agg(F.avg("lcc").alias("avg_lcc"))
    return (
        tri.crossJoin(wedges)
        .crossJoin(avg)
        .select(
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.greatest("n_wedges", F.lit(1)), 6
            ).alias("global_cc"),
            F.round(F.col("avg_lcc"), 6).alias("avg_cc"),
        )
    )


def local_clustering_coefficient(
    edges_undirected: DataFrame,
    canon: DataFrame | None = None,
    tri: DataFrame | None = None,
    kernel: tuple | None = None,
) -> DataFrame:
    """(id, lcc) for nodes with degree >= 2, lcc = 2*tri / (deg*(deg-1)).

    Degree = distinct-neighbor count on the symmetrized view (matches the
    reference's simple-graph assumption). The canonical edge set (and
    optionally the triangle list) can be passed in so callers share one
    materialization across the coefficient family."""
    c = (
        checkpoint(canonical_edges(edges_undirected))
        if canon is None
        else canon
    )
    deg = _canon_degrees(c)
    ntri = node_triangle_counts(edges_undirected, canon=c, tri=tri, kernel=kernel)
    return (
        deg.where(F.col("deg") >= 2)
        .join(ntri, "id", "left")
        .select(
            "id",
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_tri"), F.lit(0)).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                6,
            ).alias("lcc"),
        )
    )
