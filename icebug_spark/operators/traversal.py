"""BFS / SSSP via iterative frontier expansion.

Parity targets: reference ``distance/BFS.hpp:20`` (unweighted SSSP),
``distance/Dijkstra.hpp:22`` (weighted — Bellman-Ford-style relax loop in
the bulk-synchronous model), ``distance/MultiTargetBFS.hpp:13``,
``distance/SPSP.hpp:22`` / ``distance/APSP.hpp:23`` (multi-source).

Each round joins the *frontier only* (not the full distance table) against
edges — frontier-restricted joins keep per-round shuffle proportional to
the wavefront, the key property for scale-out BFS.

Three round kernels serve the level-synchronous traversals, each one
checkpoint job per round with the caller's convergence aggregates observed
on it:

- ``expand_round`` — one BFS level over ``(*key, id, frontier)`` state:
  ``multi_source_bfs`` / ``bfs_distances`` here (and through them
  ``reachability.reachable_nodes``, ``scd.random_bfs_community`` and the
  distance tables of the centrality, distance and layout modules),
  ``pointtopoint``'s ``bidirectional_bfs`` and ``multi_target_bfs``, the
  backward growth inside each colour class of ``scc``, and the affected
  cone of ``streaming.dynamic2``;
- ``sigma_round`` — one BFS level that also counts shortest paths, over
  ``(*key, id, dist, sigma, frontier)`` state: ``centrality2.sigma_levels``
  (``bfs_sigma``, ``brandes_deltas`` and the DynBetweenness caches) and
  ``centrality4._sampled_path_members`` (ApproxBetweenness, group
  betweenness, KADABRA);
- ``relax_round`` — one Bellman-Ford relax round over ``(id, dist,
  changed)`` state: ``sssp_weighted`` here, ``pointtopoint``'s
  ``bidirectional_dijkstra``, ``multi_target_dijkstra`` and ``astar``, and
  the DynBFS / DynSSSP maintainers (``dynamic2.dyn_bfs_update``,
  ``dynamic3.dyn_sssp_update``).

Min-label propagation has its own kernel, ``components.connected_components``
(seedable through ``labels=``).
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint, checkpoint_observe, mirror


def expand_round(
    state: DataFrame, e: DataFrame, frontier_rows: int, *aggs, key=()
) -> tuple[DataFrame, dict]:
    """One BFS level over ``(*key, id, frontier)`` state and ``(src, dst)``
    edges → ``(state, metrics)``; ``metrics["nf"]`` is the new frontier
    size and ``aggs`` (Columns over the new state) ride the same job.

    The frontier is ``mirror``-joined to ``e`` (``frontier_rows`` bounds
    its size). The seen-set dedup folds into the level's aggregation
    instead of a per-level anti-join: the state rides the same shuffle as
    the expansion messages (carrier rows flagged ``seen``), and a node is
    NEW exactly when its group has no carrier row. ``key`` (e.g.
    ``("source",)``) runs one BFS per key value in the same rounds."""
    # Without a hint the checkpointed state has no stats, so Catalyst
    # would sort-merge and RESHUFFLE the whole edge table every round;
    # mirror() broadcasts the vertex side while it fits and degrades to
    # shuffle-hash past the configured cap.
    frontier = state.where(F.col("frontier"))
    nxt = mirror(frontier, frontier_rows).join(e, frontier.id == e.src).select(
        *key, F.col("dst").alias("id"), F.lit(False).alias("seen")
    )
    merged = (
        state.select(*key, "id", F.lit(True).alias("seen"))
        .unionByName(nxt)
        .groupBy(*key, "id")
        .agg((~F.max("seen")).alias("frontier"))
    )
    return checkpoint_observe(
        merged, F.sum(F.col("frontier").cast("long")).alias("nf"), *aggs
    )


def sigma_round(
    state: DataFrame, e: DataFrame, frontier_rows: int, *aggs, key=()
) -> tuple[DataFrame, dict]:
    """One σ-BFS level over ``(*key, id, dist, sigma, frontier)`` state and
    ``(src, dst)`` edges → ``(state, metrics)``: ``expand_round``'s carrier
    shape plus Brandes' shortest-path counts. ``metrics["nf"]`` is the new
    frontier size and ``aggs`` ride the same job.

    A node is NEW exactly when its group has no carrier row; its ``dist``
    is the messages' min ``dist + 1`` and its σ the sum of the messages'
    σ (every message comes from the same level). Seen nodes keep their
    carried ``dist`` and σ. ``dist`` keeps the type of the caller's seed —
    no cast here, so an INT seed stays INT wherever it is hashed."""
    frontier = state.where(F.col("frontier"))
    msgs = mirror(frontier, frontier_rows).join(e, frontier.id == e.src).select(
        *key,
        F.col("dst").alias("id"),
        (F.col("dist") + 1).alias("dist"),
        "sigma",
        F.lit(False).alias("seen"),
    )
    merged = (
        state.select(*key, "id", "dist", "sigma", F.lit(True).alias("seen"))
        .unionByName(msgs)
        .groupBy(*key, "id")
        .agg(
            F.min(F.when(F.col("seen"), F.col("dist"))).alias("sd"),
            F.min(F.when(~F.col("seen"), F.col("dist"))).alias("md"),
            F.max(F.when(F.col("seen"), F.col("sigma"))).alias("ssig"),
            F.sum(F.when(~F.col("seen"), F.col("sigma"))).alias("msig"),
        )
        .select(
            *key,
            "id",
            F.coalesce("sd", "md").alias("dist"),
            F.coalesce("ssig", "msig").alias("sigma"),
            F.col("sd").isNull().alias("frontier"),
        )
    )
    return checkpoint_observe(
        merged, F.sum(F.col("frontier").cast("long")).alias("nf"), *aggs
    )


def relax_round(
    state: DataFrame, e: DataFrame, active_rows: int, *aggs, tol=0.0, prune=None
) -> tuple[DataFrame, dict]:
    """One Bellman-Ford relax round over ``(id, dist, changed)`` state and
    ``(src, dst, weight)`` edges → ``(state, metrics)``; ``metrics["nch"]``
    counts the changed rows and ``aggs`` ride the same job.

    Only the ``changed`` rows relax (``active_rows`` bounds their count);
    ``prune``, a DataFrame → DataFrame filter, may drop more of them. The
    state rides the relax shuffle as carrier rows, so one ``min``
    aggregation does the per-round merge: the carriers' min ``sd`` is the
    old distance, the messages' min ``nd`` the best relaxation. ``least``
    skips nulls, so BIGINT hop counts and DOUBLE weights share the kernel
    with no typed infinity; a row is changed when it is new or improved
    by more than ``tol``."""
    active = state.where(F.col("changed"))
    if prune is not None:
        active = prune(active)
    relax = mirror(active, active_rows).join(e, active.id == e.src).select(
        F.col("dst").alias("id"),
        (F.col("dist") + F.col("weight")).alias("dist"),
        F.lit(False).alias("seen"),
    )
    merged = (
        state.select("id", "dist", F.lit(True).alias("seen"))
        .unionByName(relax)
        .groupBy("id")
        .agg(
            F.min(F.when(F.col("seen"), F.col("dist"))).alias("sd"),
            F.min(F.when(~F.col("seen"), F.col("dist"))).alias("nd"),
        )
    )
    sd = F.col("sd") - tol if tol else F.col("sd")
    # no message (nd null) → unchanged; no carrier (sd null) → new
    changed = F.coalesce(F.col("nd") < sd, F.col("sd").isNull())
    return checkpoint_observe(
        merged.select(
            "id", F.least("sd", "nd").alias("dist"), changed.alias("changed")
        ),
        F.sum(F.col("changed").cast("long")).alias("nch"),
        *aggs,
    )


def level(state: DataFrame, h: int, key=()) -> DataFrame:
    """The nodes ``expand_round`` settled at level ``h`` → ``(*key, id,
    dist)``: a zero-shuffle filter of a materialized checkpoint, with the
    hop distance a driver-known literal rather than loop state."""
    return state.where(F.col("frontier")).select(
        *key, "id", F.lit(h).cast("long").alias("dist")
    )


def bfs_distances(
    edges: DataFrame, source: int, max_hops: int = 30
) -> DataFrame:
    """Single-source hop distances → ``(id, dist)`` (unreached omitted)."""
    df = multi_source_bfs(edges, [source], max_hops)
    return df.select("id", "dist")


def multi_source_bfs(
    edges: DataFrame, sources: list[int], max_hops: int = 30
) -> DataFrame:
    """Hop distances from each source → ``(source, id, dist)``.

    ``expand_round`` levels keyed by source, so k sources cost one BFS
    with k× state (reference APSP strategy distributed by source). The
    hop distance is NOT loop state — the per-level exchange carries only
    (source, id, frontier), ~1/3 fewer bytes on the LARGEST shuffles this
    engine runs (q161's 0.15·n² settled sweep state); the output is a lazy
    union of the per-level ``level`` slices."""
    e = edges.select("src", "dst")
    spark = edges.sparkSession
    # de-dup up front: a repeated source would otherwise emit two level-0 rows
    srcs = sorted({int(s) for s in sources})
    # seeds go through the Arrow pandas path: the JVM decodes the batch,
    # where a Python list is unpickled by Python worker tasks
    ids = pd.Series(srcs, dtype="int64")
    state = checkpoint(
        spark.createDataFrame(
            pd.DataFrame({"source": ids, "id": ids}), "source BIGINT, id BIGINT"
        ).withColumn("frontier", F.lit(True))
    )
    key = ("source",)
    levels = [level(state, 0, key)]
    # exact frontier sizes are free: each round observes the next one
    rows = len(srcs)
    for h in range(1, max_hops + 1):
        state, m = expand_round(state, e, rows, key=key)
        rows = int(m["nf"] or 0)
        if rows == 0:
            break
        levels.append(level(state, h, key))
    return reduce(DataFrame.unionByName, levels)


def sssp_weighted(
    edges_weighted: DataFrame, source: int, max_iter: int = 30
) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford relax rounds),
    parity with reference Dijkstra results (``distance/Dijkstra.hpp:22``)
    — the bulk-synchronous model has no priority queue, but converges to
    the same distances on non-negative weights. Returns ``(id, dist)``."""
    e = edges_weighted.select("src", "dst", "weight")
    spark = edges_weighted.sparkSession
    state = checkpoint(
        spark.createDataFrame(
            pd.DataFrame({"id": [int(source)], "dist": [0.0], "changed": [True]}),
            "id BIGINT, dist DOUBLE, changed BOOLEAN",
        )
    )
    rows = 1
    for _ in range(max_iter):
        state, m = relax_round(state, e, rows)
        rows = int(m["nch"] or 0)
        if rows == 0:
            break
    return state.select("id", "dist")


def k_hop_neighborhood_sizes(
    edges: DataFrame, k: int, node_filter=None
) -> DataFrame:
    """|{w : dist(u,w) <= k, w != u}| per node u via k join rounds
    (reference ``distance/Volume.hpp:20`` ball volume / Q26 2-hop sizes).
    ``node_filter``: optional Column predicate over the start column to
    bound output (full APSP-closure is O(n·reach))."""
    e = edges.select("src", "dst")
    start = e
    if node_filter is not None:
        start = e.where(node_filter(F.col("src")))
    reach = start.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    frontier = reach
    for _ in range(k - 1):
        frontier = (
            frontier.join(e, frontier.w == e.src)
            .select("u", F.col("dst").alias("w"))
            .distinct()
        )
        reach = reach.union(frontier).distinct()
    return (
        reach.where(F.col("u") != F.col("w"))
        .groupBy(F.col("u").alias("id"))
        .agg(F.countDistinct("w").alias("reach"))
    )
