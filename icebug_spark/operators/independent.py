"""Luby's maximal independent set — classic bulk-synchronous rounds.

Parity target: reference ``independentset/Luby.hpp:20``.

Each round: every remaining node draws a deterministic pseudo-random
priority (xxhash64 of (id, round, seed) — reproducible, no driver
randomness); nodes that beat all remaining neighbors join the MIS; they
and their neighbors leave the graph. Expected O(log n) rounds, each a
join + groupBy — a textbook Spark fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def luby_mis(
    edges_undirected: DataFrame, seed: int = 42, max_rounds: int = 60
) -> DataFrame:
    """Maximal independent set of an undirected graph (symmetrized edge
    input). Returns (id)."""
    from icebug_spark.plans.iterate import checkpoint_observe

    eu = checkpoint(edges_undirected.select("src", "dst").where(
        F.col("src") != F.col("dst")
    ))
    # the round-start emptiness test rides each remaining-checkpoint as
    # an observed count — no separate limit(1).count job per round
    remaining, m = checkpoint_observe(
        eu.select(F.col("src").alias("id")).distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    n_remaining = int(m["n"] or 0)
    spark = edges_undirected.sparkSession
    mis = []
    for rnd in range(max_rounds):
        if n_remaining == 0:
            break
        pri = remaining.withColumn(
            "pri", F.xxhash64("id", F.lit(rnd), F.lit(seed))
        )
        er = (
            eu.join(pri.select(F.col("id").alias("src"), F.col("pri").alias("ps")), "src")
            .join(pri.select(F.col("id").alias("dst"), F.col("pri").alias("pd")), "dst")
        )
        # neighbor max priority per node; winner iff strictly greater
        # (priority ties broken by id — append id to the comparison)
        nb_best = er.groupBy(F.col("src").alias("id")).agg(
            F.max(F.struct(F.col("pd"), F.col("dst"))).alias("nb")
        )
        winners = checkpoint(
            pri.join(nb_best, "id", "left")
            .where(
                F.col("nb").isNull()
                | (F.struct(F.col("pri"), F.col("id")) > F.col("nb"))
            )
            .select("id")
        )
        mis.append(winners)
        # drop winners + their neighbors
        losers = (
            eu.join(winners.withColumnRenamed("id", "src"), "src", "leftsemi")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        remaining, m = checkpoint_observe(
            remaining.join(winners, "id", "left_anti")
            .join(losers, "id", "left_anti"),
            F.count(F.lit(1)).alias("n"),
        )
        n_remaining = int(m["n"] or 0)
        eu = checkpoint(
            eu.join(remaining.withColumnRenamed("id", "src"), "src", "leftsemi")
            .join(remaining.withColumnRenamed("id", "dst"), "dst", "leftsemi")
        )
    if not mis:
        return spark.createDataFrame([], "id long")
    out = mis[0]
    for df in mis[1:]:
        out = out.union(df)
    return out
