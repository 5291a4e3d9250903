"""Centrality family, part 2: Katz, eigenvector, Sfigality, Laplacian,
sampled closeness, sampled betweenness (Brandes), core numbers.

Parity targets: reference ``centrality/KatzCentrality.hpp:29``,
``EigenvectorCentrality.hpp:20``, ``Sfigality.hpp:20``,
``LaplacianCentrality.hpp:24``, ``Closeness.hpp:29`` /
``ApproxCloseness.hpp:22``, ``Betweenness.hpp:18`` /
``EstimateBetweenness.hpp:23``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.traversal import multi_source_bfs, sigma_round
from icebug_spark.plans.iterate import checkpoint, iterate, mirror


def katz_centrality(
    edges: DataFrame, alpha: float = 0.1, beta: float = 1.0, max_iter: int = 10
) -> DataFrame:
    """Katz: x ← α·Aᵀx + β iterated a fixed number of rounds (reference
    KatzCentrality.hpp:29 runs to tolerance; fixed rounds keep the DuckDB
    oracle expressible). Scores not normalized. → (id, katz) 6dp."""
    # loop-invariant edge projection materialized ONCE — without this
    # every round's action re-reads the source scan
    e = checkpoint(edges.select("src", "dst"))
    nodes = checkpoint(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = nodes.count()
    x = nodes.withColumn("katz", F.lit(float(beta)))

    def step(cur: DataFrame, _i: int) -> DataFrame:
        contrib = (
            # node-bounded state: mirror() broadcasts under the vertex cap
            # (shuffle-hash past it) so the m-sized edge table never moves
            e.join(mirror(cur, n).withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("katz").alias("c"))
        )
        return nodes.join(mirror(contrib, n), "id", "left").select(
            "id",
            (F.lit(float(beta)) + F.lit(alpha) * F.coalesce("c", F.lit(0.0))).alias("katz"),
        )

    final = iterate(x, step, max_iter, checkpoint_every=2)
    return final.select("id", F.round("katz", 6).alias("katz"))


def eigenvector_centrality(
    edges_undirected: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Shifted power iteration y = (A + I)x with L2 normalization each
    round (reference EigenvectorCentrality.hpp:20 uses plain power
    iteration, which oscillates on bipartite graphs; the +I shift keeps
    the same principal eigenvector and always converges). →
    (id, eigen) 6dp."""
    # loop-invariant edge projection materialized ONCE
    eu = checkpoint(edges_undirected.select("src", "dst"))
    nodes = checkpoint(eu.select(F.col("src").alias("id")).distinct())
    n = nodes.count()
    x = nodes.withColumn("v", F.lit(1.0))
    for _ in range(max_iter):
        nb = (
            # mirror() so the edge table stays in place every round
            eu.join(mirror(x, n).withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("v").alias("nbsum"))
        )
        y = x.join(mirror(nb, n), "id", "left").select(
            "id", (F.col("v") + F.coalesce("nbsum", F.lit(0.0))).alias("y")
        )
        # Norm folded into the plan (broadcast 1-row cross join) — one
        # action per round (the checkpoint) instead of two.
        norm = y.agg(
            F.greatest(
                F.sqrt(F.sum(F.col("y") * F.col("y"))), F.lit(1e-300)
            ).alias("norm")
        )
        x = checkpoint(
            y.crossJoin(F.broadcast(norm))
            .select("id", (F.col("y") / F.col("norm")).alias("v"))
        )
    return x.select("id", F.round("v", 6).alias("eigen"))


def sfigality(edges_undirected: DataFrame) -> DataFrame:
    """Fraction of neighbors with strictly higher degree (reference
    Sfigality.hpp:20). → (id, sfigality) 6dp."""
    eu = edges_undirected.select("src", "dst")
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    j = (
        eu.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("dd")), "dst")
    )
    return j.groupBy(F.col("src").alias("id")).agg(
        F.round(
            F.sum(F.when(F.col("dd") > F.col("ds"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("sfigality")
    )


def laplacian_centrality(edges_weighted_undirected: DataFrame) -> DataFrame:
    """Laplacian centrality via the local formula (reference
    LaplacianCentrality.hpp:24): for unweighted graphs the energy drop of
    removing v is d(v)² + d(v) + 2·Σ_{u∈N(v)} d(u). → (id, lap) exact
    BIGINT arithmetic."""
    eu = edges_weighted_undirected.select("src", "dst")
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    nb_deg = (
        eu.join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("dd")), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("dd").alias("sum_nd"))
    )
    return deg.join(nb_deg, "id", "left").select(
        "id",
        (
            F.col("deg") * F.col("deg")
            + F.col("deg")
            + 2 * F.coalesce("sum_nd", F.lit(0))
        ).alias("lap"),
    )


def closeness_sampled(
    edges_undirected: DataFrame, sources: list[int], max_hops: int = 20
) -> DataFrame:
    """Generalized closeness (reference Closeness.hpp:29, variant=
    GENERALIZED): c(u) = ((r-1)/Σd) · ((r-1)/(n-1)) where r = |reachable
    set incl. u| and n = |V| — well-defined on disconnected graphs. →
    (id, closeness) 6dp."""
    n_total = (
        edges_undirected.select(F.col("src").alias("id"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_total"))
    )
    d = multi_source_bfs(edges_undirected, sources, max_hops)
    return (
        d.where(F.col("dist") > 0)
        .groupBy(F.col("source").alias("id"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("r1"),
            F.sum("dist").alias("sd"),
        )
        .join(F.broadcast(n_total))
        .select(
            "id",
            F.round(
                (F.col("r1") / F.col("sd")) * (F.col("r1") / (F.col("n_total") - 1)),
                6,
            ).alias("closeness"),
        )
    )


def betweenness_sampled(
    edges_undirected: DataFrame, sources: list[int], max_hops: int = 20
) -> DataFrame:
    """Brandes dependency accumulation from a set of source nodes
    (reference Betweenness.hpp:18 exact = all sources;
    EstimateBetweenness.hpp:23 = sampled sources, unscaled partial sums).
    → (id, betweenness) 6dp. See ``brandes_deltas`` for the machinery."""
    deltas = brandes_deltas(edges_undirected, sources, max_hops)
    return (
        deltas.where(F.col("id") != F.col("source"))
        .groupBy("id")
        .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
    )


def sigma_levels(
    edges_undirected: DataFrame, sources: list[int], max_hops: int = 20
) -> tuple[list[DataFrame], DataFrame]:
    """Forward half of Brandes — level-synchronous multi-source BFS with
    σ shortest-path counts, one ``traversal.sigma_round`` job per level.
    Returns (levels, eu): one (source, id, dist, sigma) frame per BFS
    level (level 0 = the de-duplicated sources; ``dist`` BIGINT, ``sigma``
    DOUBLE) plus the checkpointed symmetric arc table. The SINGLE σ-BFS
    behind both ``bfs_sigma`` (flat table) and ``brandes_deltas``
    (per-level backward pass)."""
    eu = checkpoint(edges_undirected.select("src", "dst"))
    spark = edges_undirected.sparkSession
    # de-dup up front: a repeated source would double every σ below it
    srcs = sorted({int(s) for s in sources})
    state = checkpoint(spark.createDataFrame(
        [(s, s, 0, 1.0, True) for s in srcs],
        "source BIGINT, id BIGINT, dist BIGINT, sigma DOUBLE, frontier BOOLEAN",
    ))
    cols = ("source", "id", "dist", "sigma")
    # level h = the nodes new at round h: a zero-shuffle filter of that
    # round's materialized state
    levels = [state.select(*cols)]
    rows = len(srcs)
    for _h in range(max_hops):
        state, m = sigma_round(state, eu, rows, key=("source",))
        rows = int(m["nf"] or 0)
        if rows == 0:
            break
        levels.append(state.where(F.col("frontier")).select(*cols))
    return levels, eu


def bfs_sigma(
    edges_undirected: DataFrame, sources: list[int], max_hops: int = 20
) -> DataFrame:
    """Per-source BFS with shortest-path counts → (source, id, dist,
    sigma) — flat union of :func:`sigma_levels`, exposed so pairwise
    σ-dependency formulas (DynBetweennessOneNode's
    σ(u,x)·σ(x,v)/σ(u,v) sum) can run as plain joins."""
    levels, _eu = sigma_levels(edges_undirected, sources, max_hops)
    out = levels[0]
    for lv in levels[1:]:
        out = out.union(lv)
    return out


def brandes_deltas(
    edges_undirected: DataFrame, sources: list[int], max_hops: int = 20
) -> DataFrame:
    """Per-source Brandes dependencies → (source, id, delta).

    Forward: multi-source BFS levels + σ path counts (one join round per
    level). Backward: walk levels from deepest to 0 accumulating
    δ(v) = Σ_{w: succ} σ(v)/σ(w) · (1 + δ(w)). Everything is joins keyed
    on (source, node); the per-level loop count is the graph diameter.
    Exposed separately so incremental betweenness (DynBetweenness) can
    recompute ONLY affected sources and splice the rest from cache."""
    spark = edges_undirected.sparkSession
    levels, eu = sigma_levels(edges_undirected, sources, max_hops)
    return backward_deltas(spark, levels, eu)


def backward_deltas(spark, levels, eu) -> DataFrame:
    """Backward Brandes pass over pre-computed σ-BFS ``levels`` →
    (source, id, delta). Split out of :func:`brandes_deltas` so callers
    that also need the distance table (DynBetweenness keeps BOTH the
    dist cache and the delta cache) run sigma_levels ONCE instead of a
    separate multi-source BFS — a third of the per-update rounds."""
    delta = None  # (source, id, delta)
    acc = []
    for h in range(len(levels) - 1, 0, -1):
        cur = levels[h].withColumnRenamed("sigma", "sigma_w")
        if delta is not None:
            cur = cur.join(delta, ["source", "id"], "left").select(
                "source", "id", "dist", "sigma_w",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
        else:
            cur = cur.withColumn("delta", F.lit(0.0))
        cur = cur.select(
            F.col("source").alias("wsource"),
            F.col("id").alias("wid"),
            "sigma_w",
            "delta",
        )
        prev = levels[h - 1].select(
            F.col("source").alias("psource"),
            F.col("id").alias("pid"),
            F.col("sigma").alias("sigma_v"),
        )
        # predecessors: edge (pid → wid) one level down, same source
        contrib = checkpoint(
            cur.join(eu, cur.wid == eu.dst)
            .join(
                prev,
                (F.col("src") == F.col("pid"))
                & (F.col("psource") == F.col("wsource")),
            )
            .select(
                F.col("psource").alias("source"),
                F.col("pid").alias("id"),
                (
                    (F.col("sigma_v") / F.col("sigma_w"))
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("c"),
            )
            .groupBy("source", "id")
            .agg(F.sum("c").alias("delta"))
        )
        acc.append(contrib)
        delta = contrib

    if not acc:
        return spark.createDataFrame([], "source long, id long, delta double")
    deltas = acc[0]
    for d in acc[1:]:
        deltas = deltas.union(d)
    return deltas.select("source", "id", "delta")
