"""Connected components via iterative min-label propagation.

Parity targets: reference ``components/ConnectedComponents.hpp:24``
(BFS-based), ``ParallelConnectedComponents.hpp:21`` (label propagation),
``WeaklyConnectedComponents.hpp:28`` (symmetrize then CC).

Algorithm ("hash-to-min" style): every node starts labeled with its own
id; each round a node takes the min of its own label and its neighbors'
labels; converges in O(diameter) rounds on the propagation tree. Each
round is one shuffle (join + groupBy-min) with map-side partial
aggregation, materialized by one ``checkpoint_observe`` job that also
carries the convergence scalar (a hand loop, not ``iterate()``). At
100 TB scale the two-phase large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce") halves round count on high-diameter
graphs; for the low-diameter graphs here min-label is already optimal and
avoids the extra shuffle per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint_observe, mirror


def connected_components(
    edges_undirected: DataFrame, max_iter: int = 50, labels: DataFrame | None = None
) -> DataFrame:
    """edges_undirected: both directions present (symmetrized). Returns
    ``(id, component)`` where component = min node id in the component.

    ``labels``: optional seed ``(id, component)`` table that replaces the
    own-id initial labels — the dynamic maintainers resume propagation
    from a previous labeling (or relabel a node subset from its own ids).
    Messages flow along edges whose ``src`` has a label row, so every
    ``dst`` they reach should already be a label row."""
    eu = edges_undirected.select("src", "dst")
    if labels is None:
        labels = (
            eu.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("component", F.col("id"))
        )
    # the label table has exactly n rows every round — count it once, on
    # the seed's own checkpoint job, and let mirror() pick broadcast vs
    # shuffle-hash.
    lbl, m0 = checkpoint_observe(
        labels.select("id", "component"), F.count(F.lit(1)).alias("n")
    )
    n = int(m0["n"] or 0)
    # Labels are monotone non-increasing, so the global label sum strictly
    # decreases until fixpoint — convergence is one cheap scalar aggregate
    # per round instead of a join against the previous state.
    prev_sum = None
    for _i in range(max_iter):
        # labels are node-bounded vs m-sized edges: mirror the label side
        # so the loop-invariant edge table is never reshuffled while n
        # fits the broadcast cap (bucketed co-location at extreme n).
        msgs = (
            eu.join(mirror(lbl, n), eu.src == lbl.id)
            .select(F.col("dst").alias("id"), F.col("component"))
        )
        # label sum rides the checkpoint job as an observed metric —
        # one action per round, not checkpoint + separate aggregate
        lbl, m = checkpoint_observe(
            lbl.select("id", "component")
            .union(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component")),
            F.sum("component").alias("s"),
        )
        s = m["s"]
        if s == prev_sum:
            break
        prev_sum = s
    return lbl


def component_sizes(components: DataFrame) -> DataFrame:
    """(component, size) — reference ComponentDecomposition surface
    (``components/ComponentDecomposition.hpp:25``)."""
    return components.groupBy("component").agg(F.count(F.lit(1)).alias("size"))


def largest_connected_component(edges_undirected: DataFrame) -> DataFrame:
    """Node set of the largest CC (reference
    ``ConnectedComponents::extractLargestConnectedComponent``,
    ``components/ConnectedComponents.hpp:47``)."""
    comp = connected_components(edges_undirected)
    top = (
        component_sizes(comp)
        .orderBy(F.desc("size"), F.asc("component"))
        .limit(1)
        .select("component")
    )
    return comp.join(F.broadcast(top), "component", "leftsemi").select("id")
