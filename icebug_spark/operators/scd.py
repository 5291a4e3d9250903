"""Selective (seeded) community detection — personalized PageRank push,
sweep cut, and seeded BFS expansion.

Parity targets (reference ``scd/``, base
``SelectiveCommunityDetector.hpp:23`` expandOneCommunity):
- ApproximatePageRank.hpp:22 — push-based PPR with teleport alpha and
  tolerance eps; here the push loop is a frontier-restricted iteration:
  only nodes whose residual exceeds eps*deg participate in a round, so
  each round touches the active frontier, not the whole graph (the Spark
  shape of "local" computation);
- PageRankNibble.hpp:24 — PPR + sweep cut: order nodes by ppr/deg and
  take the prefix minimizing conductance — the sweep is ONE window pass
  (running cut/volume), not a per-prefix loop;
- RandomBFS.hpp:14 — seeded BFS ball as a trivial expander;
- SetConductance.hpp:17 — conductance of a node set.

Multiple seeds run together: every frame carries a ``seed`` column, so
expanding k seeds costs the same number of Spark jobs as one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icebug_spark.operators.traversal import multi_source_bfs
from icebug_spark.plans.iterate import checkpoint


def _degrees(eu: DataFrame) -> DataFrame:
    return eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))


def ppr_push(
    eu: DataFrame,
    seeds: list[int],
    alpha: float = 0.15,
    eps: float = 1e-4,
    max_rounds: int = 30,
) -> DataFrame:
    """Push-based personalized PageRank for each seed (batched).

    State: (seed, id, p, r) — approximation p and residual r. A round
    pushes every node with r > eps*deg at once (batch push: p += alpha*r,
    residual r resets to (1-alpha)*r/2 kept... following the standard
    Andersen-Chung-Lang push generalized to synchronous batches:
      p += alpha * r
      spread (1-alpha) * r along edges, split evenly by degree
    which preserves the invariant p + r mass = 1 per seed and converges
    to the same limit; the reference pushes one node at a time
    (scd/ApproximatePageRank.hpp:22), the batch variant is the
    deterministic data-parallel equivalent.

    Returns (seed, id, ppr) for nodes with p > 0."""
    spark = eu.sparkSession
    deg = checkpoint(_degrees(eu))
    state = spark.createDataFrame(
        [(s, s, 0.0, 1.0) for s in seeds],
        "seed BIGINT, id BIGINT, p DOUBLE, r DOUBLE",
    )
    for _ in range(max_rounds):
        st = state.join(deg, "id", "left").withColumn(
            "deg", F.coalesce("deg", F.lit(0))
        )
        active = st.where((F.col("r") > 0) & (F.col("r") >= eps * F.col("deg")))
        if active.isEmpty():
            break
        inactive = st.where(~((F.col("r") > 0) & (F.col("r") >= eps * F.col("deg"))))
        # absorb: p += alpha * r on active nodes; keep rest of state
        absorbed = active.select(
            "seed", "id", (F.col("p") + F.lit(alpha) * F.col("r")).alias("p"),
            F.lit(0.0).alias("r"), "deg",
        )
        # spread (1-alpha)*r along edges (degree-0 nodes keep residual: no
        # outlets — matches the reference's dangling handling in push)
        spread = (
            active.where(F.col("deg") > 0)
            .join(eu.select(F.col("src").alias("id"), "dst"), "id")
            .select(
                "seed",
                F.col("dst").alias("id"),
                (F.lit(1.0 - alpha) * F.col("r") / F.col("deg")).alias("dr"),
            )
            .groupBy("seed", "id")
            .agg(F.sum("dr").alias("dr"))
        )
        merged = (
            absorbed.select("seed", "id", "p", "r")
            .unionByName(inactive.select("seed", "id", "p", "r"))
            .join(spread, ["seed", "id"], "full")
            .select(
                "seed",
                "id",
                F.coalesce("p", F.lit(0.0)).alias("p"),
                (F.coalesce("r", F.lit(0.0)) + F.coalesce("dr", F.lit(0.0))).alias("r"),
            )
        )
        state = checkpoint(merged)
    return state.where(F.col("p") > 0).select("seed", "id", F.col("p").alias("ppr"))


def sweep_cut(eu: DataFrame, ppr: DataFrame) -> DataFrame:
    """PageRankNibble's sweep: per seed, order nodes by ppr/deg desc and
    return the best-conductance prefix as (seed, id).

    The running cut size uses the standard sweep identity: adding node x
    with degree d and k(x) = |edges from x into the current prefix|
    changes the cut by d - 2k(x). k(x) against the *final* ordering is
    computable as one edge join on (rank(src) < rank(dst)); the whole
    sweep is then two windows — no driver loop over prefixes."""
    deg = _degrees(eu)
    vol_total = deg.groupBy().agg(F.sum("deg").alias("vol_g"))
    scored = (
        ppr.join(deg, "id", "left")
        .withColumn("deg", F.coalesce("deg", F.lit(0)))
        .withColumn("score", F.col("ppr") / F.greatest("deg", F.lit(1)))
    )
    w = Window.partitionBy("seed").orderBy(F.col("score").desc(), F.col("id"))
    ranked = checkpoint(scored.withColumn("rank", F.row_number().over(w)))
    # k(x): edges from x to nodes ranked strictly before x (same seed)
    ra = ranked.select("seed", F.col("id").alias("src"), F.col("rank").alias("rs"))
    rb = ranked.select("seed", F.col("id").alias("dst"), F.col("rank").alias("rd"))
    into_prefix = (
        eu.join(ra, "src")
        .join(rb, ["seed", "dst"])
        .where(F.col("rd") < F.col("rs"))
        .groupBy("seed", F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("k"))
    )
    wcum = (
        Window.partitionBy("seed")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = (
        ranked.join(into_prefix, ["seed", "id"], "left")
        .withColumn("k", F.coalesce("k", F.lit(0)))
        .withColumn("cut", F.sum(F.col("deg") - 2 * F.col("k")).over(wcum))
        .withColumn("vol", F.sum("deg").over(wcum))
        .crossJoin(F.broadcast(vol_total))
        .withColumn(
            "cond",
            F.col("cut").cast("double")
            / F.greatest(
                F.least(F.col("vol"), F.col("vol_g") - F.col("vol")), F.lit(1)
            ).cast("double"),
        )
        # a prefix holding the graph's whole volume has cut 0 / conductance 0
        # vacuously — the sweep is over strict subsets only
        .where(F.col("vol") < F.col("vol_g"))
    )
    wbest = Window.partitionBy("seed")
    best = swept.withColumn("best_cond", F.min("cond").over(wbest)).withColumn(
        "best_rank",
        F.min(F.when(F.col("cond") == F.col("best_cond"), F.col("rank"))).over(wbest),
    )
    return best.where(F.col("rank") <= F.col("best_rank")).select("seed", "id")


def pagerank_nibble(
    eu: DataFrame,
    seeds: list[int],
    alpha: float = 0.15,
    eps: float = 1e-4,
) -> DataFrame:
    """PageRankNibble (scd/PageRankNibble.hpp:24): PPR push then sweep
    cut; (seed, id) membership per seed."""
    return sweep_cut(eu, ppr_push(eu, seeds, alpha, eps))


def random_bfs_community(eu: DataFrame, seeds: list[int], hops: int = 2) -> DataFrame:
    """RandomBFS (scd/RandomBFS.hpp:14): the k-hop BFS ball around each
    distinct seed as its community; (seed, id)."""
    return multi_source_bfs(eu, seeds, hops).select(
        F.col("source").alias("seed"), "id"
    )


def set_conductance(eu: DataFrame, members: DataFrame) -> DataFrame:
    """SetConductance (scd/SetConductance.hpp:17): per seed,
    cut(S)/min(vol(S), vol(V\\S)), rounded 6dp. members = (seed, id)."""
    deg = _degrees(eu)
    vol_total = deg.groupBy().agg(F.sum("deg").alias("vol_g"))
    vol_s = (
        members.join(deg, "id", "left")
        .groupBy("seed")
        .agg(F.sum(F.coalesce("deg", F.lit(0))).alias("vol_s"))
    )
    ms = members.select("seed", F.col("id").alias("src"))
    md = members.select("seed", F.col("id").alias("dst"))
    cut = (
        eu.join(ms, "src")
        .join(md, ["seed", "dst"], "left_anti")
        .groupBy("seed")
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    return (
        vol_s.join(cut, "seed", "left")
        .crossJoin(F.broadcast(vol_total))
        .select(
            "seed",
            F.round(
                F.coalesce("cut", F.lit(0)).cast("double")
                / F.greatest(
                    F.least(F.col("vol_s"), F.col("vol_g") - F.col("vol_s")), F.lit(1)
                ).cast("double"),
                6,
            ).alias("conductance"),
        )
    )
