"""Centrality operators: degree, PageRank, eigenvector/Katz-style loops.

Parity targets: reference ``centrality/DegreeCentrality.hpp:20``,
``centrality/PageRank.hpp:38-90`` (damping, tolerance, L1/L2 norm,
DISTRIBUTE_SINKS handling), ``centrality/EigenvectorCentrality.hpp:20``,
``centrality/KatzCentrality.hpp:29``, ``centrality/HarmonicCloseness.hpp:18``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint, iterate, mirror


def degree_centrality(edges: DataFrame, direction: str = "out") -> DataFrame:
    """(id, degree). One groupBy — map-side combine, single shuffle."""
    key = "src" if direction == "out" else "dst"
    return edges.groupBy(F.col(key).alias("id")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 15,
    distribute_sinks: bool = True,
    tol: float = 0.0,
    norm: str = "l1",
) -> DataFrame:
    """PageRank over a directed edge DataFrame → ``(id, pagerank)``.

    Semantics follow reference ``centrality/PageRank.hpp:49``
    SinkHandling::DISTRIBUTE_SINKS: each iteration the aggregate rank held
    by out-degree-0 nodes is spread uniformly, so total rank stays 1.
    ``tol`` > 0 enables the reference's early stop (PageRank.hpp:38-90
    tolerance + norm): iteration ends once ‖rank − rank_prev‖ ≤ tol under
    ``norm`` ∈ {"l1", "l2", "max"}. The default ``tol=0`` runs exactly
    ``max_iter`` rounds (fixed rounds keep the DuckDB oracle expressible).

    Scale notes: per-iteration cost is one join (ranks ⋈ edges, both
    pre-partitioned on the join key by the shuffle of the previous round)
    + one groupBy(dst) with partial aggregation. The edges side is loop
    invariant — on a cluster, persist it partitioned by ``src`` so only the
    (small) rank vector reshuffles each round. Sink sum is folded into the
    update plan (broadcast 1-row cross join); the tolerance check runs only
    at checkpoint boundaries where BOTH rank vectors are already
    materialized, so it costs one n-row scan-and-sum — never a recompute
    of the update and never an extra job on the non-checkpoint rounds.
    """
    from icebug_spark.plans.iterate import checkpoint_observe

    e = edges.select("src", "dst")
    # loop-invariant base: node → outdeg (null ⇒ sink), built as ONE
    # tagged-union aggregation instead of nodes-DISTINCT + outdeg-groupBy
    # + left join (3 exchanges + 2 setup jobs → 1 exchange + 1 job): src
    # rows carry marker 1, dst rows marker 0; a node's outdeg is its
    # marker sum, with 0 mapped back to the old left-join NULL. n rides
    # the checkpoint as an observed metric.
    base, mb = checkpoint_observe(
        e.select(F.col("src").alias("id"), F.lit(1).cast("long").alias("mk"))
        .unionByName(
            e.select(F.col("dst").alias("id"), F.lit(0).cast("long").alias("mk"))
        )
        .groupBy("id")
        .agg(F.sum("mk").alias("od"))
        .select(
            "id", F.when(F.col("od") > 0, F.col("od")).alias("outdeg")
        ),
        F.count(F.lit(1)).alias("n"),
    )
    n = int(mb["n"] or 0)
    nodes = base.select("id")
    # Loop-invariant "edges + diagonal" table: one self row per node next
    # to the real arcs. The self rows play the carrier role (they surface
    # every node in the aggregation with a zero contribution and carry
    # outdeg/prev through), so each round's plan scans the previous
    # round's checkpoint exactly ONCE — inside the message join — instead
    # of twice (join side + carrier union branch). Single-reference loop
    # plans keep the checkpoint chain cost flat at any depth (see
    # plans/iterate.checkpoint_observe CAUTION and the same diagonal-carry
    # pattern in spectrum.laplacian_eigenvectors_power); they also stop
    # the lazy in-between rounds from being re-executed once per branch.
    eplus = checkpoint(
        e.select("src", "dst", F.lit(False).alias("self"))
        .unionByName(
            nodes.select(
                F.col("id").alias("src"),
                F.col("id").alias("dst"),
                F.lit(True).alias("self"),
            )
        )
    )

    ranks = base.withColumn("rank", F.lit(1.0 / n)).withColumn(
        "prev", F.lit(0.0)
    )

    def step(r: DataFrame, _i: int) -> DataFrame:
        # rank vector is node-bounded (exactly n rows): mirror() keeps
        # the edge table in place while n fits the broadcast cap and
        # degrades to shuffle-hash at 1e9+ nodes (bucket edges by src
        # on a cluster to elide that exchange too). Self rows emit the
        # exact 0.0 the old carrier branch emitted; message sums are
        # unchanged (adding +0.0 never changes a positive double sum).
        j = eplus.join(
            mirror(r.select("id", "rank", "outdeg"), n),
            eplus.src == F.col("id"),
        )
        out = (
            j.select(
                F.col("dst").alias("id"),
                F.when(F.col("self"), F.lit(0.0))
                .otherwise(F.col("rank") / F.col("outdeg"))
                .alias("c"),
                F.when(F.col("self"), F.col("outdeg")).alias("od"),
                F.when(F.col("self"), F.col("rank")).alias("pv"),
            )
            .groupBy("id")
            .agg(
                F.sum("c").alias("contrib"),
                F.max("od").alias("outdeg"),
                F.max("pv").alias("prev"),
            )
        )
        if distribute_sinks:
            # Fold the sink aggregate into the plan (broadcast 1-row cross
            # join) instead of collect()ing it — one Spark action per
            # checkpoint instead of two per round; at cluster scale each
            # avoided action is a full job submission. This branch is a
            # second reference to the prior state, but a groupless
            # aggregate (1-row size estimate), so the checkpoint-chain
            # stats stay linear (no subtree-product blow-up).
            sink = r.where(F.col("outdeg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("sink_sum")
            )
            out = out.crossJoin(F.broadcast(sink))
            sink_term = F.col("sink_sum") / n
        else:
            sink_term = F.lit(0.0)
        return out.select(
            "id",
            "outdeg",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * (F.col("contrib") + sink_term)
            ).alias("rank"),
            "prev",
        )

    observe = observed_converged = None
    if tol > 0.0:
        if norm not in ("l1", "l2", "max"):
            raise ValueError("norm must be one of l1, l2, max")

        def observe():
            # the delta norm rides each checkpoint's materializing action
            # as an observed metric (iterate only evaluates it at
            # checkpoint boundaries, where (rank, prev) materializes
            # anyway) — zero extra jobs, zero recompute of the lazy
            # in-between rounds
            diff = F.col("rank") - F.col("prev")
            agg = {
                "l1": F.sum(F.abs(diff)),
                "l2": F.sqrt(F.sum(diff * diff)),
                "max": F.max(F.abs(diff)),
            }[norm]
            return [agg.alias("d")]

        def observed_converged(m: dict) -> bool:
            val = m["d"]
            return val is not None and float(val) <= tol

    final = iterate(
        ranks,
        step,
        max_iter,
        checkpoint_every=2,
        observe=observe,
        observed_converged=observed_converged,
    )
    return final.select("id", F.col("rank").alias("pagerank"))


def harmonic_closeness_sampled(
    edges_undirected: DataFrame, sources: list[int], max_hops: int = 10
) -> DataFrame:
    """Harmonic closeness restricted to a source sample
    (reference ``centrality/HarmonicCloseness.hpp:18`` /
    ``ApproxCloseness.hpp:22``): sum(1/dist) from multi-source BFS."""
    from icebug_spark.operators.traversal import multi_source_bfs

    dists = multi_source_bfs(edges_undirected, sources, max_hops)
    return (
        dists.where(F.col("dist") > 0)
        .groupBy(F.col("source").alias("id"))
        .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"))
    )
