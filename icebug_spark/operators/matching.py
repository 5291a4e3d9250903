"""Matching: parallel local-max (mutual best edge) rounds, plus the
exact driver-guarded Drake–Hougardy path-growing matcher.

Parity targets: reference ``matching/LocalMaxMatcher.hpp:21`` (½-approx
maximum-weight matching), ``SuitorMatcher.hpp:23`` (same approximation
class via proposals), ``PathGrowingMatcher.hpp:23`` (sequential path
growing — implemented exactly under a driver size guard, with local-max
as the distributed default in the same approximation class).

Round: every node points at its best incident edge (max weight, ties by
(weight, min id, max id) — deterministic); edges chosen from both sides
are matched; matched nodes drop out; repeat. ½-approximation guarantee,
O(log n) expected rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def local_max_matching(
    edges_weighted: DataFrame, max_rounds: int = 40
) -> DataFrame:
    """Matching as (u, v, weight) rows with u < v; input may be directed
    rows (one per undirected edge, any orientation); weight optional."""
    e = edges_weighted
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    canon = checkpoint(
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            "weight",
        )
        .groupBy("u", "v")
        .agg(F.max("weight").alias("weight"))
    )
    spark = edges_weighted.sparkSession
    matched = []
    for rnd in range(max_rounds):
        # the first round's input is the caller's (non-degenerate) edge
        # set and later rounds break below when the residual empties, so
        # no separate emptiness probe is needed — every skipped probe is
        # one fewer driver round-trip
        both = canon.select(F.col("u").alias("id"), "u", "v", "weight").union(
            canon.select(F.col("v").alias("id"), "u", "v", "weight")
        )
        best = (
            both.groupBy("id")
            .agg(F.max(F.struct("weight", "u", "v")).alias("s"))
            .select("id", F.col("s.u").alias("u"), F.col("s.v").alias("v"), F.col("s.weight").alias("weight"))
        )
        # an edge is matched iff it is the best edge of BOTH endpoints.
        # Both round-control counts (any mutual edge? any residual edge?)
        # are observed DURING the two checkpoints — the old shape paid a
        # separate limit(1).count job after each (4 jobs/round -> 2).
        from icebug_spark.plans.iterate import checkpoint_observe

        mutual, mm = checkpoint_observe(
            best.groupBy("u", "v", "weight")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") == 2)
            .select("u", "v", "weight"),
            F.count(F.lit(1)).alias("n"),
        )
        if int(mm["n"] or 0) == 0:
            break
        matched.append(mutual)
        if rnd + 1 == max_rounds:
            break  # the residual rebuild below would never be consumed
        used = mutual.select(F.col("u").alias("id")).union(
            mutual.select(F.col("v").alias("id"))
        ).distinct()
        canon, cm = checkpoint_observe(
            canon.join(used.withColumnRenamed("id", "u"), "u", "left_anti")
            .join(used.withColumnRenamed("id", "v"), "v", "left_anti")
            .select("u", "v", "weight"),
            F.count(F.lit(1)).alias("n"),
        )
        if int(cm["n"] or 0) == 0:
            break
    if not matched:
        return spark.createDataFrame([], "u long, v long, weight double")
    out = matched[0]
    for df in matched[1:]:
        out = out.union(df)
    return out


def path_growing_matcher(
    edges_weighted: DataFrame, max_edges: int = 200_000
) -> DataFrame:
    """Exact Drake–Hougardy path-growing matching (reference
    ``matching/PathGrowingMatcher.hpp:23``): grow a path by repeatedly
    following the heaviest incident edge, alternately assigning edges to
    two candidate matchings M0/M1; return the heavier one (½-approx).

    The algorithm is inherently sequential (each step consumes the node
    just visited), so this is a DRIVER-GUARDED fallback like DFS/PLL:
    the canonical edge list is collected under ``max_edges`` and grown in
    pure Python; past the guard it raises, naming
    :func:`local_max_matching` — the distributed default in the same
    ½-approximation class. → (u, v, weight) rows with u < v."""
    e = edges_weighted
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    canon = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            "weight",
        )
        .groupBy("u", "v")
        .agg(F.max("weight").alias("weight"))
    )
    spark = edges_weighted.sparkSession
    m = canon.count()
    if m > max_edges:
        raise ValueError(
            f"path_growing_matcher driver fallback refuses {m} edges "
            f"(max_edges={max_edges}); use local_max_matching (distributed, "
            "same 1/2-approximation class) at this scale"
        )
    rows = canon.collect()
    adj: dict[int, dict[int, float]] = {}
    for r in rows:
        u, v, w = int(r["u"]), int(r["v"]), float(r["weight"])
        adj.setdefault(u, {})[v] = w
        adj.setdefault(v, {})[u] = w
    matchings: list[list[tuple[int, int, float]]] = [[], []]
    # deterministic start order: ascending node id
    for start in sorted(adj):
        if not adj.get(start):
            continue
        v, i = start, 0
        while adj.get(v):
            # heaviest incident edge; ties toward the smaller neighbor id
            u = min(adj[v], key=lambda nb: (-adj[v][nb], nb))
            w = adj[v][u]
            matchings[i].append((min(v, u), max(v, u), w))
            i = 1 - i
            for nb in list(adj[v]):
                del adj[nb][v]
            del adj[v]
            v = u
    best = max(matchings, key=lambda mm: sum(w for _, _, w in mm))
    # alternate assignment makes each M_i a matching by construction
    if not best:
        return spark.createDataFrame([], "u long, v long, weight double")
    return spark.createDataFrame(best, "u long, v long, weight double")


def matching_coarsening(
    edges_weighted: DataFrame, matching: DataFrame
) -> DataFrame:
    """MatchingCoarsening (``coarsening/MatchingCoarsening.hpp:21``):
    contract matched pairs (super-node = min id of the pair), sum parallel
    edge weights. Unmatched nodes map to themselves."""
    e = edges_weighted
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    m = matching.select(
        F.col("u").alias("id"), F.least("u", "v").alias("super")
    ).union(matching.select(F.col("v").alias("id"), F.least("u", "v").alias("super")))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    mapping = nodes.join(m, "id", "left").select(
        "id", F.coalesce("super", F.col("id")).alias("super")
    )
    return (
        e.join(mapping.select(F.col("id").alias("src"), F.col("super").alias("csrc")), "src")
        .join(mapping.select(F.col("id").alias("dst"), F.col("super").alias("cdst")), "dst")
        .where(F.col("csrc") != F.col("cdst"))
        .groupBy(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )


def b_suitor_matching(
    edges_weighted: DataFrame,
    b: int = 2,
    max_rounds: int = 40,
    capacities: DataFrame | None = None,
) -> DataFrame:
    """b-matching via synchronous suitor-style rounds (reference
    ``matching/BSuitorMatcher.hpp:24``, ``SuitorMatcher.hpp:23`` for b=1):
    every node may be matched to at most ``b`` neighbors.

    Round: each node with remaining capacity ranks its available incident
    edges by (weight desc, partner asc) and claims its top remaining slots;
    an edge is accepted when BOTH endpoints claimed it this round (mutual
    proposal — the bulk-synchronous analog of suitor stealing). Accepted
    edges consume capacity on both sides; repeat until no mutual claims.
    Same ½-approximation class as the sequential suitor algorithm.
    Returns (u, v, weight) with u < v."""
    from pyspark.sql import Window

    e = edges_weighted
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    canon = checkpoint(
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            "weight",
        )
        .groupBy("u", "v")
        .agg(F.max("weight").alias("weight"))
    )
    spark = edges_weighted.sparkSession
    nodes = (
        canon.select(F.col("u").alias("id"))
        .union(canon.select(F.col("v").alias("id")))
        .distinct()
    )
    if capacities is not None:
        # per-node residual capacities (DynamicBSuitorMatcher ball update)
        cap = nodes.join(capacities, "id", "left").select(
            "id", F.coalesce("cap", F.lit(b)).alias("cap")
        )
    else:
        cap = nodes.withColumn("cap", F.lit(b))
    cap = checkpoint(cap)
    matched = []
    # per-round driver-sync jobs = 4 (mutual checkpoint, cap checkpoint,
    # canon rebuild checkpoint, canon emptiness probe). The old loop ran
    # 5: a mutual-empty probe is unnecessary — whenever the residual is
    # nonempty its globally best edge (weight DESC, u ASC, v ASC — the
    # same total order both endpoints rank by) is rank-1 for BOTH
    # endpoints, so mutual is nonempty and the post-rebuild canon probe
    # is the only break the loop needs.
    for _ in range(max_rounds):
        both = canon.select(F.col("u").alias("id"), "u", "v", "weight").union(
            canon.select(F.col("v").alias("id"), "u", "v", "weight")
        ).join(cap.where(F.col("cap") > 0), "id")
        w = Window.partitionBy("id").orderBy(
            F.desc("weight"), F.asc("u"), F.asc("v")
        )
        claims = (
            both.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= F.col("cap"))
            .select("u", "v", "weight")
        )
        mutual = checkpoint(
            claims.groupBy("u", "v", "weight")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") == 2)
            .select("u", "v", "weight")
        )
        matched.append(mutual)
        # consume capacity on both sides of the accepted edges
        used = mutual.select(F.col("u").alias("id")).union(
            mutual.select(F.col("v").alias("id"))
        ).groupBy("id").agg(F.count(F.lit(1)).alias("n_used"))
        cap = checkpoint(
            cap.join(used, "id", "left")
            .select("id", (F.col("cap") - F.coalesce("n_used", F.lit(0))).alias("cap"))
        )
        # residual emptiness observed during the rebuild checkpoint — no
        # separate existence job per round
        from icebug_spark.plans.iterate import checkpoint_observe

        canon, cm = checkpoint_observe(
            canon.join(mutual.select("u", "v"), ["u", "v"], "left_anti")
            .join(cap.where(F.col("cap") <= 0).select(F.col("id").alias("u")), "u", "left_anti")
            .join(cap.where(F.col("cap") <= 0).select(F.col("id").alias("v")), "v", "left_anti")
            .select("u", "v", "weight"),
            F.count(F.lit(1)).alias("n"),
        )
        if int(cm["n"] or 0) == 0:
            break
    if not matched:
        return spark.createDataFrame([], "u long, v long, weight double")
    out = matched[0]
    for df in matched[1:]:
        out = out.union(df)
    return out
