"""Strongly connected components: trim + iterative coloring (FW-BW-Trim).

Parity target: reference ``components/StronglyConnectedComponents.hpp:22``
(sequential Tarjan). The distributed formulation: repeat
  0. TRIM to fixpoint: a node with no incoming or no outgoing arc in the
     remaining graph is its own SCC — peel those off first. On real
     graphs (including the derived customer→supplier graph, where every
     id outside the overlapping range is trivially acyclic) trimming
     removes the vast majority of nodes in 1-2 rounds, so the expensive
     color propagation only ever runs on the small cyclic core
     (measured at sf0.1: 14,999 nodes → 14,000 trimmed, coloring runs
     on the single 1,000-node SCC; 322 s → ~15 s, the classic
     FW-BW-Trim observation from the parallel-SCC literature)
  1. propagate max node id forward to a fixpoint → color(v)
  2. roots r (color(r)=r) backward-search within their color class
     (``traversal.expand_round`` levels keyed by color, frontier only);
     every node that reaches r inside the color = SCC(r)
  3. remove found SCCs, repeat on the remainder
Every color class is processed in parallel in one round; rounds are
bounded by the longest chain of SCCs in the untrimmed core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.traversal import expand_round
from icebug_spark.plans.iterate import checkpoint, checkpoint_observe


def strongly_connected_components(
    edges: DataFrame, max_rounds: int = 50, max_prop: int = 50, max_trim: int = 20
) -> DataFrame:
    """(id, component) where component = max node id of the SCC."""
    e_all = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    nodes = checkpoint(
        e_all.select(F.col("src").alias("id"))
        .union(e_all.select(F.col("dst").alias("id")))
        .distinct()
    )
    e = checkpoint(e_all)
    spark = edges.sparkSession
    result = None
    # every loop below fuses its convergence scalar into the checkpoint's
    # materializing action (checkpoint_observe) — one job per round where
    # the old shape paid two or three (checkpoint + count/sum aggregates)
    n_nodes = nodes.count()

    for _round in range(max_rounds):
        # 0. trim to fixpoint: no-in or no-out ⇒ singleton SCC
        for _ in range(max_trim):
            trivial, mt = checkpoint_observe(
                nodes.join(
                    e.select(F.col("dst").alias("id")).distinct(), "id", "left_anti"
                )
                .union(
                    nodes.join(
                        e.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
                    )
                )
                .distinct(),
                F.count(F.lit(1)).alias("n"),
            )
            if int(mt["n"] or 0) == 0:
                break
            found = trivial.select("id", F.col("id").alias("component"))
            result = found if result is None else result.union(found)
            result = checkpoint(result)
            nodes, mn = checkpoint_observe(
                nodes.join(trivial, "id", "left_anti"),
                F.count(F.lit(1)).alias("n"),
            )
            n_nodes = int(mn["n"] or 0)
            e = checkpoint(
                e.join(nodes.withColumnRenamed("id", "src"), "src", "leftsemi")
                .join(nodes.withColumnRenamed("id", "dst"), "dst", "leftsemi")
            )
        if n_nodes == 0:
            break
        # 1. forward max-color propagation to fixpoint
        color, mc = checkpoint_observe(
            nodes.withColumn("color", F.col("id")),
            F.sum("color").alias("s"),
        )
        prev_sum = mc["s"]
        for _ in range(max_prop):
            msgs = e.join(color.withColumnRenamed("id", "src"), "src").select(
                F.col("dst").alias("id"), "color"
            )
            color, mp = checkpoint_observe(
                color.select("id", "color")
                .union(msgs)
                .groupBy("id")
                .agg(F.max("color").alias("color")),
                F.sum("color").alias("s"),
            )
            if mp["s"] == prev_sum:
                break
            prev_sum = mp["s"]
        # 2. backward reachability to the color root within the color
        # class: expand_round levels keyed by color over the reversed
        # same-color arcs. Each node has exactly one color and the arcs
        # join only same-color nodes, so the carried key is always the
        # reached node's own color.
        ec = checkpoint(
            e.join(color.withColumnRenamed("id", "src").withColumnRenamed("color", "c1"), "src")
            .join(color.withColumnRenamed("id", "dst").withColumnRenamed("color", "c2"), "dst")
            .where(F.col("c1") == F.col("c2"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        scc, ms = checkpoint_observe(
            color.where(F.col("id") == F.col("color")).select(
                "color", "id", F.lit(True).alias("frontier")
            ),
            F.count(F.lit(1)).alias("n"),
        )
        rows = int(ms["n"] or 0)
        for _ in range(max_prop):
            scc, mg = expand_round(scc, ec, rows, key=("color",))
            rows = int(mg["nf"] or 0)
            if rows == 0:
                break
        found = scc.select("id", F.col("color").alias("component"))
        result = found if result is None else result.union(found)
        result = checkpoint(result)
        # 3. peel off found SCCs
        nodes, mn = checkpoint_observe(
            nodes.join(found.select("id"), "id", "left_anti"),
            F.count(F.lit(1)).alias("n"),
        )
        n_nodes = int(mn["n"] or 0)
        e = checkpoint(
            e.join(nodes.withColumnRenamed("id", "src"), "src", "leftsemi")
            .join(nodes.withColumnRenamed("id", "dst"), "dst", "leftsemi")
        )
    if result is None:
        return spark.createDataFrame([], "id long, component long")
    return result
