"""Point-to-point (s–t) shortest-path family: bidirectional BFS/Dijkstra,
A*, multi-target BFS/Dijkstra, Floyd-Warshall APSP, ReverseBFS.

Parity targets (reference ``distance/``):
- BidirectionalBFS.hpp:22  — alternating two-ball expansion, stop when
  the balls provably bracket the distance;
- BidirectionalDijkstra.hpp:20 — weighted variant;
- AStar.hpp:18 / AStarGeneral.hpp:28 — heuristic-pruned search; the
  heuristic is a per-node lower bound on distance-to-target;
- MultiTargetBFS.hpp:13 / MultiTargetDijkstra.hpp:14 — one source, a
  target set, early exit once every target is final;
- FloydWarshall.hpp:28 — all-pairs with negative-weight support and
  negative-cycle detection;
- ReverseBFS.hpp:16 — BFS on in-edges.

Spark-first shapes: every search is a frontier-restricted loop over
``traversal``'s two round kernels — ``expand_round`` for the BFS
searches, ``relax_round`` for the weighted ones — so the per-round shuffle
is proportional to the wavefront, not the graph, and each round is one
checkpoint job whose stop-rule scalars (frontier size, targets reached,
min active label, target label) ride that job as observed metrics. Only
the bidirectional searches' meeting value μ is still its own ``collect``.
Floyd-Warshall's O(n³) triple loop is re-expressed as ⌈log₂ n⌉ min-plus
matrix squarings (each a shuffle join via the GraphBLAS-lite kernels) —
the associative re-formulation that distributes, versus the inherently
sequential k-loop of the textbook algorithm. s–t searches are
latency-shaped (driver-coordinated rounds with scalar convergence
aggregates), which is the right trade: each round's *data* work is fully
distributed, and bidirectional halves the number of rounds.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators import algebraic
from icebug_spark.operators.traversal import (
    bfs_distances,
    expand_round,
    level,
    multi_source_bfs,
    relax_round,
)
from icebug_spark.plans.iterate import checkpoint, mirror

_ST = "source BIGINT, target BIGINT, dist {}"
_SEED = "id BIGINT, dist DOUBLE, changed BOOLEAN"


def bidirectional_bfs(
    edges: DataFrame, source: int, target: int, max_hops: int = 60
) -> DataFrame:
    """Hop distance s→t (reference ``distance/BidirectionalBFS.hpp:22``).

    Grows a forward ball from ``source`` (out-edges) and a backward ball
    from ``target`` (in-edges), expanding the shallower side each round.
    Stop certificate: with balls complete to radii (ls, lt), any path of
    length L ≤ ls+lt has a node in both balls, so once the best meeting
    value μ = min(d_s(v)+d_t(v)) satisfies μ ≤ ls+lt it is exact.
    Returns one row (source, target, dist) — empty DataFrame if
    unreachable within ``max_hops``.
    """
    spark = edges.sparkSession
    out = _ST.format("BIGINT")
    if source == target:
        return spark.createDataFrame([(source, target, 0)], out)
    e = checkpoint(edges.select("src", "dst"))
    er = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    # per side (forward, backward): the expand_round carrier state, the
    # lazy union of its level slices (materialized seeds keep every later
    # μ query on checkpoint scans), its frontier size (0 once the side is
    # exhausted), its radius and its node count
    state = [
        checkpoint(
            spark.createDataFrame([(int(v), True)], "id BIGINT, frontier BOOLEAN")
        )
        for v in (source, target)
    ]
    levels = [[level(st, 0)] for st in state]
    rows = [1, 1]
    radius = [0, 0]
    size = [1, 1]
    for _ in range(max_hops):
        ds, dt = (reduce(DataFrame.unionByName, lv) for lv in levels)
        mu = (
            ds.join(mirror(dt.withColumnRenamed("dist", "dt"), size[1]), "id")
            .agg(F.min(F.col("dist") + F.col("dt")).alias("mu"))
            .collect()[0]["mu"]
        )
        if mu is not None and mu <= sum(radius):
            return spark.createDataFrame([(source, target, int(mu))], out)
        if not any(rows):
            break  # both searches exhausted without bracketing: unreachable
        i = 0 if rows[0] and (radius[0] <= radius[1] or not rows[1]) else 1
        state[i], m = expand_round(state[i], (e, er)[i], rows[i])
        rows[i] = int(m["nf"] or 0)
        if rows[i]:
            radius[i] += 1
            size[i] += rows[i]
            levels[i].append(level(state[i], radius[i]))
    return spark.createDataFrame([], out)


def reverse_bfs(edges: DataFrame, source: int, max_hops: int = 60) -> DataFrame:
    """Hop distances along in-edges (reference ``distance/ReverseBFS.hpp:16``)
    — BFS on the transpose. Returns (id, dist)."""
    er = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return bfs_distances(er, source, max_hops)


def bidirectional_dijkstra(
    edges_weighted: DataFrame, source: int, target: int, max_iter: int = 60
) -> DataFrame:
    """Weighted s→t distance (reference
    ``distance/BidirectionalDijkstra.hpp:20``), non-negative weights.

    Forward relax rounds from ``source`` on G and backward rounds from
    ``target`` on Gᵀ run in lockstep; μ = min over doubly-labeled nodes
    of d_s+d_t. Stop when both sides have no active (improvable) rows —
    μ is then exact — or early once μ ≤ min-active-label of the forward
    side + min-active-label of the backward side (any still-improvable
    path must pass both wavefronts and costs at least that).
    Returns one row (source, target, dist DOUBLE); empty if unreachable.
    """
    spark = edges_weighted.sparkSession
    out = _ST.format("DOUBLE")
    if source == target:
        return spark.createDataFrame([(source, target, 0.0)], out)
    e = checkpoint(edges_weighted.select("src", "dst", "weight"))
    er = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    # per side (forward, backward): the relax_round state, its active
    # rows, its min active label (riding each relax job) and a bound on
    # its row count (every new row is a changed row)
    state = [spark.createDataFrame([(int(v), 0.0, True)], _SEED) for v in (source, target)]
    rows = [1, 1]
    low = [0.0, 0.0]
    size = [1, 1]
    mn = F.min(F.when(F.col("changed"), F.col("dist"))).alias("mn")

    def meet():
        dt = state[1].select("id", F.col("dist").alias("dt"))
        return (
            state[0].join(mirror(dt, size[1]), "id")
            .agg(F.min(F.col("dist") + F.col("dt")).alias("mu"))
            .collect()[0]["mu"]
        )

    for _ in range(max_iter):
        mu = meet()
        if not any(rows):
            break
        if mu is not None and None not in low and mu <= sum(low):
            break
        for i in (0, 1):
            if rows[i]:
                state[i], m = relax_round(state[i], (e, er)[i], rows[i], mn)
                rows[i], low[i] = int(m["nch"] or 0), m["mn"]
                size[i] += rows[i]
    else:
        mu = meet()
    if mu is None:
        return spark.createDataFrame([], out)
    return spark.createDataFrame([(source, target, float(mu))], out)


def astar(
    edges_weighted: DataFrame,
    source: int,
    target: int,
    heuristic: DataFrame | None = None,
    max_iter: int = 60,
) -> DataFrame:
    """A* s→t distance (reference ``distance/AStar.hpp:18`` /
    ``AStarGeneral.hpp:28``), non-negative weights.

    ``heuristic``: (id, h) per-node lower bound on distance-to-target
    (admissible); None ⇒ h≡0 (plain distributed Dijkstra). Each round
    prunes active rows with g(v)+h(v) ≥ μ (current best target label):
    with h admissible such rows cannot start an improving suffix, so
    pruning preserves exactness while shrinking the frontier join —
    the distributed analogue of the priority-queue skip.
    Returns one row (source, target, dist DOUBLE); empty if unreachable.
    """
    spark = edges_weighted.sparkSession
    out = _ST.format("DOUBLE")
    if source == target:
        return spark.createDataFrame([(source, target, 0.0)], out)
    e = checkpoint(edges_weighted.select("src", "dst", "weight"))
    if heuristic is not None:
        h = checkpoint(heuristic.select("id", F.col("h").cast("double").alias("h")))
    dist = spark.createDataFrame([(int(source), 0.0, True)], _SEED)
    # the target's label rides each relax job
    tdist = F.min(F.when(F.col("id") == target, F.col("dist"))).alias("tdist")
    mu = float("inf")
    rows = 1
    for _ in range(max_iter):
        prune = None
        if heuristic is not None and mu != float("inf"):

            def prune(active):  # against the previous round's μ
                return active.join(h, "id", "left").where(
                    F.col("dist") + F.coalesce(F.col("h"), F.lit(0.0)) < F.lit(mu)
                ).select("id", "dist", "changed")

        dist, m = relax_round(dist, e, rows, tdist, prune=prune)
        rows = int(m["nch"] or 0)
        if m["tdist"] is not None:
            mu = float(m["tdist"])
        if not rows:
            break
    if mu == float("inf"):
        return spark.createDataFrame([], out)
    return spark.createDataFrame([(source, target, mu)], out)


def multi_target_bfs(
    edges: DataFrame, source: int, targets: list[int], max_hops: int = 60
) -> DataFrame:
    """Hop distances from ``source`` to each node of ``targets``
    (reference ``distance/MultiTargetBFS.hpp:13``); stops as soon as the
    whole target set is levelled. Returns (id, dist) for reached targets.
    """
    spark = edges.sparkSession
    e = checkpoint(edges.select("src", "dst"))
    tset = sorted({int(t) for t in targets})
    is_t = F.col("id").isin(tset)
    state = spark.createDataFrame([(int(source), True)], "id BIGINT, frontier BOOLEAN")
    levels = [level(state, 0)]
    rows = 1
    found = 1 if int(source) in tset else 0
    # the targets each level reaches ride its expansion job
    hit = F.sum((F.col("frontier") & is_t).cast("long")).alias("k")
    for h in range(1, max_hops + 1):
        if found == len(tset):
            break
        state, m = expand_round(state, e, rows, hit)
        rows = int(m["nf"] or 0)
        if rows == 0:
            break
        found += int(m["k"] or 0)
        levels.append(level(state, h))
    return reduce(DataFrame.unionByName, levels).where(is_t)


def multi_target_dijkstra(
    edges_weighted: DataFrame,
    source: int,
    targets: list[int],
    max_iter: int = 60,
) -> DataFrame:
    """Weighted distances source→targets (reference
    ``distance/MultiTargetDijkstra.hpp:14``), non-negative weights.
    Early exit once every target is labelled AND the cheapest active
    label ≥ the costliest target label (positive weights ⇒ no active
    node can still improve a target). Returns (id, dist DOUBLE)."""
    spark = edges_weighted.sparkSession
    e = checkpoint(edges_weighted.select("src", "dst", "weight"))
    tset = sorted({int(t) for t in targets})
    is_t = F.col("id").isin(tset)
    dist = spark.createDataFrame([(int(source), 0.0, True)], _SEED)
    # min active label, labelled-target count and costliest target label
    # ride each relax job
    stop = (
        F.min(F.when(F.col("changed"), F.col("dist"))).alias("mn"),
        F.sum(is_t.cast("long")).alias("k"),
        F.max(F.when(is_t, F.col("dist"))).alias("mx"),
    )
    rows = 1
    for _ in range(max_iter):
        dist, m = relax_round(dist, e, rows, *stop)
        rows = int(m["nch"] or 0)
        if not rows:
            break
        if (
            int(m["k"] or 0) == len(tset)
            and m["mn"] is not None
            and m["mx"] is not None
            and m["mn"] >= m["mx"]
        ):
            break
    return dist.where(is_t).select("id", "dist")


def floyd_warshall(
    edges_weighted: DataFrame,
    max_nodes: int = 4000,
    max_squarings: int | None = None,
) -> DataFrame:
    """All-pairs shortest paths (reference ``distance/FloydWarshall.hpp:28``)
    with negative-weight support and negative-cycle detection.

    The O(n³) k-loop is inherently sequential; the distributed
    re-formulation is min-plus matrix squaring — D ← D ⊕.min (D ⊗.+ D) —
    which reaches all ≤2^k-edge paths after k squarings, so ⌈log₂ n⌉
    rounds of the GraphBLAS-lite ``mxm`` suffice. Size-guarded: output is
    O(n²) rows, refuse beyond ``max_nodes`` (same stance as the
    reference's small/medium-graph scoping). Returns (src, dst, dist,
    in_negative_cycle) for reachable pairs; d(u,u)<0 flags u on a
    negative cycle, and its row distances are then lower bounds only.
    """
    import math

    e = edges_weighted.select("src", "dst", "weight")
    nodes = checkpoint(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = nodes.count()
    if n > max_nodes:
        raise ValueError(
            f"floyd_warshall: {n} nodes > max_nodes={max_nodes}; "
            "O(n²) output — raise max_nodes explicitly if intended"
        )
    if max_squarings is None:
        max_squarings = max(1, math.ceil(math.log2(max(2, n)))) + 1
    d = checkpoint(
        e.groupBy(F.col("src").alias("row"), F.col("dst").alias("col"))
        .agg(F.min("weight").alias("value"))
        .union(nodes.select(F.col("id").alias("row"), F.col("id").alias("col"),
                            F.lit(0.0).alias("value")))
        .groupBy("row", "col").agg(F.min("value").alias("value"))
    )
    for _ in range(max_squarings):
        d2 = checkpoint(algebraic.e_wise_add(
            algebraic.mxm(d, d, algebraic.MIN_PLUS), d, algebraic.MIN_PLUS
        ))
        improved = (
            d2.join(
                d.select("row", "col", F.col("value").alias("old")),
                ["row", "col"],
                "left",
            )
            .where(
                F.col("old").isNull() | (F.col("value") < F.col("old") - 1e-12)
            )
            .limit(1)
            .count()
        )
        d = d2
        if improved == 0:
            break
    neg = d.where((F.col("row") == F.col("col")) & (F.col("value") < 0)).select(
        F.col("row").alias("src_neg")
    )
    return (
        d.join(neg, d.row == neg.src_neg, "left")
        .select(
            F.col("row").alias("src"),
            F.col("col").alias("dst"),
            F.col("value").alias("dist"),
            F.col("src_neg").isNotNull().alias("in_negative_cycle"),
        )
    )


def apsp(edges: DataFrame, max_nodes: int = 4000, max_hops: int = 60) -> DataFrame:
    """Full unweighted APSP surface (reference ``distance/APSP.hpp:23``):
    hop distances for every ordered reachable pair → (source, id, dist).
    Size-guarded (O(n²) output). Runs ONE multi-source frontier BFS with
    all nodes as sources — the per-round join carries the source key, so
    it distributes as n concurrent BFS sharing each shuffle."""
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    ids = [r["id"] for r in nodes.collect()]
    if len(ids) > max_nodes:
        raise ValueError(
            f"apsp: {len(ids)} nodes > max_nodes={max_nodes}; O(n²) output"
        )
    return multi_source_bfs(edges, ids, max_hops)
