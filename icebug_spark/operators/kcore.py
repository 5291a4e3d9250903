"""k-core decomposition by iterative peeling.

Parity target: reference ``centrality/CoreDecomposition.hpp:26,49``.

Bulk-synchronous peeling: repeatedly delete all nodes with degree < k (for
core membership) or peel minimum-degree layers (for core numbers). Each
round = degree groupBy + semi-join filter; lineage truncated per round.
At scale the peeling rounds for full core numbers can be many; the
k-core *membership* variant (fixed k) used by the t2 query converges in
few rounds and each round shrinks the edge set monotonically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def k_core(edges_undirected: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """Node set of the k-core → (id). Input must be symmetrized.

    Convergence is detected on the PEEL side — one count over the
    vertex-sized degree frame per round ("did any node fall below k?")
    instead of two edge-table counts; rounds that peel nothing never
    rebuild the edge table at all."""
    from icebug_spark.plans.iterate import checkpoint_observe

    eu = checkpoint(edges_undirected.select("src", "dst"))
    for _ in range(max_iter):
        # materialize the degree table ONCE per round with the peel test
        # observed during the checkpoint — the old shape ran the degree
        # groupBy shuffle twice (once under the limit(1).count existence
        # job, once again inside the edge-rebuild checkpoint's keep
        # filter)
        deg, m = checkpoint_observe(
            eu.groupBy("src").agg(F.count(F.lit(1)).alias("deg")),
            F.sum((F.col("deg") < k).cast("long")).alias("np"),
        )
        if int(m["np"] or 0) == 0:
            break
        keep = deg.where(F.col("deg") >= k).select("src")
        eu = checkpoint(
            eu.join(keep, "src", "leftsemi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "leftsemi")
            .select("src", "dst")
        )
    return eu.select(F.col("src").alias("id")).distinct()


def core_numbers(
    edges_undirected: DataFrame, max_k: int = 100, max_rounds: int = 1000
) -> DataFrame:
    """(id, core) full core decomposition — single peel loop instead of
    a per-k ``k_core`` restart (the round-8 verdict's job-count item):
    each round computes degrees ONCE and peels every remaining node
    below the current level simultaneously (core = k−1, cascades stay at
    the same level); when nothing peels, k JUMPS straight to
    (min remaining degree)+1 — a node surviving with degree d survives
    every level ≤ d, so the intermediate levels are provably empty and
    cost zero rounds. Total rounds = #cascade-steps + #distinct core
    values, vs the old Σ_k (restart + cascade-steps(k)); on a
    high-min-degree graph the k=1..min_deg prefix disappears entirely."""
    from icebug_spark.plans.iterate import checkpoint_observe

    eu = checkpoint(edges_undirected.select("src", "dst"))
    spark = edges_undirected.sparkSession
    remaining = checkpoint(eu.select(F.col("src").alias("id")).distinct())
    parts: list[DataFrame] = []
    k = 1
    for _ in range(max_rounds):
        if k > max_k + 1:
            break
        # ONE job materializes the degree table AND answers all three
        # control questions as observed metrics: how many nodes peel at
        # this level, how many remain, and (for the k-jump when nothing
        # peels) the minimum remaining degree. The old shape paid a
        # limit(1).count job, a min-degree aggregate job, and a separate
        # remaining-emptiness job per round on top of two checkpoints.
        deg, m = checkpoint_observe(
            remaining.join(
                eu.groupBy(F.col("src").alias("id")).agg(
                    F.count(F.lit(1)).alias("deg")
                ),
                "id",
                "left",
            ).na.fill({"deg": 0}),
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("deg") < k).cast("long")).alias("np"),
            F.min("deg").alias("md"),
        )
        n, n_peel = int(m["n"] or 0), int(m["np"] or 0)
        if n == 0:
            break
        if n_peel == 0:
            if m["md"] is None:
                break
            k = int(m["md"]) + 1
            continue
        # peel/remaining hang off the checkpointed degree table — one
        # materialized frame, two cheap filters
        parts.append(
            deg.where(F.col("deg") < k)
            .select("id")
            .withColumn("core", F.lit(k - 1).cast("long"))
        )
        if n - n_peel == 0:
            break
        remaining = deg.where(F.col("deg") >= k).select("id")
        eu = checkpoint(
            eu.join(remaining.withColumnRenamed("id", "src"), "src", "leftsemi")
            .join(remaining.withColumnRenamed("id", "dst"), "dst", "leftsemi")
        )
    if not parts:
        return spark.createDataFrame([], "id long, core long")
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out
