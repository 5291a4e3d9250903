"""Centrality part 3: top-k closeness with degree-bound pruning, greedy
group centrality.

Parity targets:
- ``centrality/TopCloseness.hpp:22`` / ``TopHarmonicCloseness.hpp:25`` —
  top-k without all-pairs BFS. The reference prunes with per-node upper
  bounds (NBcut/NBbound); the distributed analogue: a cheap upper bound
  (degree-based level sums) preselects candidates, exact batched BFS runs
  only on the survivors, and the bound guarantees no true top-k node is
  pruned when the candidate pool is ≥ k with bound(next) <= score(kth);
- ``centrality/GroupDegree.hpp:23`` — greedy submodular group-degree
  (k driver rounds, each one aggregation);
- ``centrality/GroupCloseness.hpp:24`` — greedy group harmonic closeness
  over batched BFS distance tables (GrowShrink parity is the local-swap
  refinement; the greedy core is here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.traversal import multi_source_bfs
from icebug_spark.plans.iterate import checkpoint


def top_harmonic_closeness(
    eu: DataFrame, k: int = 10, candidate_factor: int = 4, max_hops: int = 32
) -> DataFrame:
    """Top-k harmonic closeness (id, harmonic) — candidates = the
    k*candidate_factor highest-degree nodes (harmonic closeness is
    degree-dominated at hop 1: h(v) <= deg(v) + (n-deg(v)-1)/2, so high
    degree is the right pruning order — the reference's level-based bound
    with L=1), exact batched BFS on candidates only."""
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    cands = [
        r["id"]
        for r in deg.orderBy(F.col("deg").desc(), "id")
        .limit(k * candidate_factor)
        .collect()
    ]
    d = multi_source_bfs(eu, cands, max_hops=max_hops)
    h = (
        d.where(F.col("dist") > 0)
        .groupBy(F.col("source").alias("id"))
        .agg(F.round(F.sum(1.0 / F.col("dist")), 6).alias("harmonic"))
    )
    return h.orderBy(F.col("harmonic").desc(), "id").limit(k)


def group_degree_greedy(eu: DataFrame, k: int = 5) -> DataFrame:
    """GroupDegree greedy: k rounds; each adds the node covering the most
    not-yet-covered neighbors (outside the group). Returns the selected
    group as (id, marginal_gain, round). Deterministic tie-break (gain
    desc, id asc). Each round = one aggregation over the remaining arcs."""
    spark = eu.sparkSession
    arcs = checkpoint(eu.select("src", "dst"))
    chosen: list[tuple[int, int, int]] = []
    # the group is a driver-known ≤k id list → isin filters instead of
    # anti-joins against a checkpointed single-column table; covered is a
    # union of ≤k neighbor filters over the checkpointed arcs, so its
    # lineage stays k-deep and needs no per-round materialization. One
    # Spark job per greedy round (the gains collect) instead of three
    # (gains + covered checkpoint + group checkpoint).
    newly_parts: list[DataFrame] = []
    for rnd in range(k):
        # marginal gain: neighbors not covered and not in group
        g = arcs
        if chosen:
            ids = [c[0] for c in chosen]
            g = g.where(~F.col("src").isin(ids)).where(~F.col("dst").isin(ids))
            covered = newly_parts[0]
            for p in newly_parts[1:]:
                covered = covered.union(p)
            g = g.join(covered, "dst", "left_anti")
        gains = (
            g.groupBy("src")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.col("gain").desc(), "src")
            .limit(1)
            .collect()
        )
        if not gains:
            # coverage is total: every remaining pick has zero marginal
            # gain — but the reference returns a group of EXACTLY k
            # members regardless (``GroupDegree.hpp:38`` — k is "Size of
            # the group"). Fill deterministically with the smallest node
            # ids outside the group; the collect is k-bounded.
            need = k - len(chosen)
            fill_q = (
                arcs.select(F.col("src").alias("id"))
                .union(arcs.select(F.col("dst").alias("id")))
                .distinct()
            )
            if chosen:
                fill_q = fill_q.where(~F.col("id").isin([c[0] for c in chosen]))
            fill = fill_q.orderBy("id").limit(need).collect()
            for j, frow in enumerate(fill):
                chosen.append((int(frow["id"]), 0, rnd + j))
            break
        best, gain = int(gains[0]["src"]), int(gains[0]["gain"])
        chosen.append((best, gain, rnd))
        newly_parts.append(arcs.where(F.col("src") == best).select("dst"))
    return spark.createDataFrame(chosen, "id BIGINT, marginal_gain BIGINT, round INT")


def group_harmonic_greedy(eu: DataFrame, k: int = 5, max_hops: int = 16) -> DataFrame:
    """GroupHarmonicCloseness greedy: k rounds; each adds the node whose
    inclusion maximizes Σ_v 1/d(v, S). Distances to the current group are
    maintained as one table (v, dbest); a candidate c's gain needs d(v,c)
    for all v — we batch-BFS from a degree-top candidate pool once, then
    greedy rounds are pure aggregations over the distance table."""
    spark = eu.sparkSession
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    pool = [
        r["id"]
        for r in deg.orderBy(F.col("deg").desc(), "id").limit(k * 4).collect()
    ]
    d = checkpoint(multi_source_bfs(eu, pool, max_hops=max_hops).select(
        F.col("source").alias("c"), F.col("id").alias("v"), "dist"
    ))
    chosen: list[tuple[int, float, int]] = []
    # the group's distance table dbest(v) = min over chosen c of d(c,v)
    # is DERIVED inside each round's scores plan from the checkpointed
    # BFS table (an isin filter + groupBy-min) instead of being
    # maintained as a separate full-outer-join + checkpoint chain — one
    # Spark job per greedy round instead of two. min-of-mins equals the
    # group min exactly, and a v reachable by no chosen source is absent
    # from the aggregate exactly as it was absent from the join chain.
    for rnd in range(k):
        chosen_ids = [c for c, _g, _r in chosen]
        if not chosen_ids:
            scores = (
                d.where(F.col("dist") > 0)
                .groupBy("c")
                .agg(F.sum(1.0 / F.col("dist")).alias("score"))
            )
        else:
            dbest = (
                d.where(F.col("c").isin(chosen_ids))
                .groupBy("v")
                .agg(F.min("dist").alias("db"))
            )
            joined = (
                d.where(~F.col("c").isin(chosen_ids)).join(dbest, "v", "left")
            )
            # v's current contribution: 1/db; db==0 means v IS a group
            # member (contribution saturated — no candidate can improve it)
            prev = (
                F.when(F.col("db").isNull(), F.lit(0.0))
                .when(F.col("db") == 0, F.lit(float("inf")))
                .otherwise(1.0 / F.col("db"))
            )
            scores = joined.groupBy("c").agg(
                F.sum(
                    F.when(
                        F.col("dist") > 0,
                        F.greatest(1.0 / F.col("dist") - prev, F.lit(0.0)),
                    ).otherwise(F.lit(0.0))
                ).alias("score")
            )
        top = scores.orderBy(F.col("score").desc(), "c").limit(1).collect()
        if not top or top[0]["score"] <= 0:
            # saturated: no remaining candidate improves Σ 1/d(v,S) — but
            # the reference returns a group of EXACTLY k members
            # (``GroupHarmonicCloseness.hpp`` — k is the group size).
            # Fill deterministically with the smallest unchosen pool ids
            # at zero marginal gain.
            remaining = sorted(set(pool) - {c for c, _g, _r in chosen})
            for fill_rnd in range(rnd, k):
                if not remaining:
                    break
                chosen.append((remaining.pop(0), 0.0, fill_rnd))
            break
        best, gain = int(top[0]["c"]), float(top[0]["score"])
        chosen.append((best, round(gain, 6), rnd))
    return spark.createDataFrame(chosen, "id BIGINT, marginal_gain DOUBLE, round INT")


def group_closeness_grow_shrink(
    eu: DataFrame,
    initial_group: list[int],
    rounds: int = 4,
    candidate_factor: int = 4,
    max_hops: int = 16,
) -> DataFrame:
    """GroupClosenessLocalSwaps / GrowShrink local search (reference
    ``centrality/GroupClosenessLocalSwaps.hpp:27``): improve a seed group
    of size k by single swaps — drop one member, add one outsider — while
    group harmonic closeness Σ_v 1/d(v, S) improves.

    Distributed shape: ONE batched multi-source BFS over members ∪ a
    degree-top candidate pool yields every per-source distance column;
    any swapped group's objective is then a pure aggregation
    min-over-chosen-columns — no per-swap traversal. Each round evaluates
    all k·|pool| swaps with a single groupBy over the distance table.
    Returns the improved group as (id, harmonic) one row per member plus
    the final objective replicated (callers read either)."""
    spark = eu.sparkSession
    group = [int(x) for x in initial_group]
    k = len(group)
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    pool = [
        int(r["id"])
        for r in deg.orderBy(F.col("deg").desc(), "id")
        .limit(k * candidate_factor)
        .collect()
        if int(r["id"]) not in group
    ]
    sources = sorted(set(group) | set(pool))
    d = checkpoint(
        multi_source_bfs(eu, sources, max_hops=max_hops)
        .select(F.col("source").alias("s"), F.col("id").alias("v"), "dist")
    )

    def harmonic_of(members: list[int]) -> float:
        m = spark.createDataFrame([(x,) for x in members], "s BIGINT")
        best = (
            d.join(F.broadcast(m), "s")
            .groupBy("v")
            .agg(F.min("dist").alias("db"))
        )
        row = best.where(F.col("db") > 0).agg(
            F.sum(1.0 / F.col("db")).alias("h")
        ).collect()[0]
        return float(row["h"] or 0.0)

    cur = harmonic_of(group)
    for _ in range(rounds):
        # evaluate ALL swaps in one pass: for each (out_member, in_cand),
        # objective = sum over v of 1/min(dist of kept members ∪ {cand})
        kept_tables = []
        for m_out in group:
            kept = [m for m in group if m != m_out]
            kdf = spark.createDataFrame([(x,) for x in kept], "s BIGINT")
            dkept = (
                d.join(F.broadcast(kdf), "s")
                .groupBy("v")
                .agg(F.min("dist").alias("dk"))
            )
            cands = spark.createDataFrame([(c,) for c in pool], "s BIGINT")
            dc = d.join(F.broadcast(cands), "s").select(
                F.col("s").alias("cand"), "v", F.col("dist").alias("dc")
            )
            # candidates × kept-reached nodes first, then left-join the
            # candidate distances: a node reached only by kept members
            # must still contribute 1/dk to EVERY candidate's objective
            # (a plain dc⋈dkept full join drops it to a NULL cand group,
            # underestimating swaps on partially-covered graphs).
            grid = dkept.crossJoin(
                F.broadcast(cands.select(F.col("s").alias("cand")))
            )
            sc = (
                grid.join(dc, ["cand", "v"], "full")
                .select(
                    "cand",
                    F.least(
                        F.coalesce("dk", F.lit(1 << 30)),
                        F.coalesce("dc", F.lit(1 << 30)),
                    ).alias("db"),
                )
                .where((F.col("db") > 0) & (F.col("db") < (1 << 30)))
                .groupBy("cand")
                .agg(F.sum(1.0 / F.col("db")).alias("h"))
                .withColumn("out", F.lit(m_out))
            )
            kept_tables.append(sc)
        allswaps = kept_tables[0]
        for t in kept_tables[1:]:
            allswaps = allswaps.unionByName(t)
        top = (
            allswaps.where(F.col("cand").isNotNull())
            .orderBy(F.col("h").desc(), "out", "cand")
            .limit(1)
            .collect()
        )
        if not top or float(top[0]["h"]) <= cur + 1e-9:
            break
        cur = float(top[0]["h"])
        group = [m for m in group if m != int(top[0]["out"])] + [int(top[0]["cand"])]
        pool = [c for c in pool if c != int(top[0]["cand"])] + [int(top[0]["out"])]
    return spark.createDataFrame(
        [(m, round(cur, 6)) for m in sorted(group)], "id BIGINT, harmonic DOUBLE"
    )
