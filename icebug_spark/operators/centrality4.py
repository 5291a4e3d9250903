"""Centrality part 4: ε-δ approximate betweenness, k-path centrality,
square clustering, GedWalk group centrality, complex paths.

Parity targets (reference centrality/, 11,564 LoC):
- ApproxBetweenness (ε,δ pair sampling, VC bound)
  ``centrality/ApproxBetweenness.hpp:21``
- KPathCentrality              ``centrality/KPathCentrality.hpp:18``
- LocalSquareClusteringCoefficient
  ``centrality/LocalSquareClusteringCoefficient.hpp:18``
- GedWalk (greedy group exposure) ``centrality/GedWalk.hpp:19`` (889 LoC)
- ComplexPaths (threshold spreading) ``centrality/ComplexPaths.hpp:45``
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icebug_spark.operators.distances import diameter_double_sweep
from icebug_spark.operators.traversal import sigma_round
from icebug_spark.plans.iterate import checkpoint, checkpoint_observe


def approx_betweenness(
    edges_undirected: DataFrame,
    eps: float = 0.1,
    delta: float = 0.1,
    c: float = 0.5,
    max_samples: int = 200,
    seed: int = 7,
) -> DataFrame:
    """ApproxBetweenness (Riondato-Kornaropoulos): sample r (s,t) pairs,
    walk ONE uniform shortest path per pair, count interior-node visits;
    bc(v) ≈ visits(v)/r. r = (c/ε²)·(⌊log2(VD−2)⌋+1+ln(1/δ)) with VD the
    vertex-diameter estimate (double sweep), capped at ``max_samples``
    (reference ``centrality/ApproxBetweenness.hpp:21``).

    Spark shape: ALL pairs advance together — one multi-source BFS keyed
    by pair id builds (pair, node, dist, sigma); the backward pass walks
    all pairs one level per round, choosing predecessors σ-weighted via
    seeded hash (deterministic). → (id, approx_bc) 6dp."""
    eu, nodes, vd, r, pairs = _rk_sample(
        edges_undirected, eps, delta, c, max_samples, seed
    )
    counts = _pair_path_visits(eu, pairs, vd, seed)
    return (
        nodes.join(counts, "id", "left")
        .select(
            "id",
            F.round(F.coalesce("cnt", F.lit(0)).cast("double") / F.lit(float(r)), 6).alias(
                "approx_bc"
            ),
        )
    )


def _rk_sample(
    edges_undirected: DataFrame,
    eps: float,
    delta: float,
    c: float,
    max_samples: int,
    seed: int,
):
    """Shared Riondato–Kornaropoulos sampling prologue: symmetrized arc
    table, node set, vertex-diameter estimate, the VC sample bound
    r = ⌈(c/ε²)·(⌊log₂(VD−2)⌋+1+ln(1/δ))⌉ capped at ``max_samples``, and
    the deterministic pair sample. → (eu, nodes, vd, r, pairs)."""
    eu = edges_undirected.select("src", "dst")
    eu = checkpoint(eu.union(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())
    nodes = eu.select(F.col("src").alias("id")).distinct()
    n = nodes.count()
    vd = diameter_double_sweep(edges_undirected).collect()[0][0] or 2
    vd = max(int(vd), 2)
    r = int(
        math.ceil(
            (c / eps**2)
            * (math.floor(math.log2(max(vd - 2, 1))) + 1 + math.log(1 / delta))
        )
    )
    r = max(1, min(r, max_samples))
    return eu, nodes, vd, r, _rk_pairs(nodes, n, r, seed)


def _rk_pairs(nodes: DataFrame, n: int, r: int, seed: int) -> DataFrame:
    """Deterministic (s, t) pair sample: the 2r+1 lowest seeded-hash
    nodes — a distributed TakeOrdered top-k, NOT a global row_number
    window (Window.orderBy with no partitionBy plans an Exchange
    SinglePartition: one task ranks the whole 1e9-node vertex set) —
    then ranked locally (the window runs over O(r) sample-bounded
    rows) and paired i ↔ rank i+r+1, so s and t draws are disjoint.
    The concrete t draw differs from the previous whole-set-ranking
    implementation (which paired with the LARGEST hashes); both are
    deterministic uniform samples — consumers certify distribution-
    level properties (ε-bounds vs exact), not specific pairs."""
    from icebug_spark.plans.zipindex import dense_index

    k = int(min(2 * r + 1, n))
    top = (
        nodes.withColumn("h", F.xxhash64(F.lit(seed), "id"))
        .orderBy("h", "id")
        .limit(k)
    )
    # two-pass zipindex rank: sample-bounded rows, but no unpartitioned
    # window — sweep logs stay free of WindowExec warnings so a REAL
    # single-partition window regression would stand out
    ranked = dense_index(top, ["h", "id"], out="rn", assume_distinct=True)
    s_side = ranked.where(F.col("rn") < r).select(
        F.col("rn").alias("pair"), F.col("id").alias("s")
    )
    t_side = ranked.withColumn(
        "rn2", F.pmod(F.col("rn") - F.lit(r + 1), F.lit(k))
    ).where(F.col("rn2") < r).select(
        F.col("rn2").alias("pair"), F.col("id").alias("t")
    )
    return checkpoint(s_side.join(t_side, "pair").where(F.col("s") != F.col("t")))


def approx_group_betweenness(
    edges_undirected: DataFrame,
    k: int = 5,
    eps: float = 0.1,
    delta: float = 0.1,
    c: float = 0.5,
    max_samples: int = 200,
    seed: int = 7,
) -> DataFrame:
    """ApproxGroupBetweenness (reference
    ``centrality/ApproxGroupBetweenness.hpp:19``): sample shortest paths
    with the same (ε,δ) pair-sampling kernel as ApproxBetweenness, then
    greedily build a k-group maximizing the number of covered sampled
    paths (max-coverage greedy — the 1−1/e approximation of the sampled
    group betweenness objective).

    Spark shape: path sampling is the shared pair-keyed multi-source BFS;
    each greedy round is one groupBy-count + top-1 + anti-join of covered
    paths — k scalar-result rounds over a checkpointed membership table,
    no per-candidate traversals. → (id, covered_paths, round) where
    ``covered_paths`` is the marginal number of newly covered paths
    (non-increasing over rounds, by submodularity)."""
    spark = edges_undirected.sparkSession
    eu, _nodes, vd, _r, pairs = _rk_sample(
        edges_undirected, eps, delta, c, max_samples, seed
    )
    members = checkpoint(_sampled_path_members(eu, pairs, vd, seed))

    chosen: list[tuple[int, int, int]] = []
    remaining = members
    for i in range(k):
        top = (
            remaining.groupBy("id")
            .agg(F.count(F.lit(1)).alias("hits"))
            .orderBy(F.desc("hits"), F.asc("id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        v, hits = int(top[0]["id"]), int(top[0]["hits"])
        chosen.append((v, hits, i))
        covered = remaining.where(F.col("id") == v).select("pair")
        remaining = checkpoint(remaining.join(covered, "pair", "left_anti"))
    if not chosen:
        return spark.createDataFrame([], "id BIGINT, covered_paths BIGINT, round INT")
    return spark.createDataFrame(chosen, "id BIGINT, covered_paths BIGINT, round INT")


def _pair_path_visits(
    eu: DataFrame, pairs: DataFrame, vd: int, seed: int
) -> DataFrame:
    """Interior-node visit counts (id, cnt) over one sampled shortest
    path per pair — aggregation of :func:`_sampled_path_members`."""
    m = _sampled_path_members(eu, pairs, vd, seed)
    return m.groupBy("id").agg(F.count(F.lit(1)).alias("cnt"))


def _sampled_path_members(
    eu: DataFrame, pairs: DataFrame, vd: int, seed: int
) -> DataFrame:
    """Sample ONE uniform shortest s→t path per (pair, s, t) row; return
    the interior-node memberships (pair, id). All pairs advance together:
    one pair-keyed multi-source BFS forward (dist, σ), then a σ-weighted
    backward walk one level per round."""
    # forward multi-source BFS with path counts sigma, keyed by pair: one
    # traversal.sigma_round job per level. dist stays INT (the seed's
    # literal) — the backward pass hashes it into each pick.
    state = checkpoint(
        pairs.select(
            "pair",
            F.col("s").alias("id"),
            F.lit(0).alias("dist"),
            F.lit(1.0).alias("sigma"),
            F.lit(True).alias("frontier"),
        )
    )
    # frontier row bound for mirror(): the source count to start, then
    # the exact observed new-node count from each level's checkpoint
    frontier_rows = state.count()
    for _d in range(vd + 2):
        state, m = sigma_round(state, eu, frontier_rows, key=("pair",))
        frontier_rows = int(m["nf"] or 0)
        if frontier_rows == 0:
            break
    settled = state.select("pair", "id", "dist", "sigma")

    # backward pass: walk from t toward s one level per round, all pairs
    # simultaneously; predecessor chosen σ-weighted via seeded hash
    # the next level's activity test rides each checkpoint as an observed
    # count (dist>1 rows), so a backward level is ONE job — the old shape
    # paid a separate limit(1).count existence job per level
    _active_agg = F.sum((F.col("dist") > 1).cast("long")).alias("na")
    t_dist, m = checkpoint_observe(
        pairs.join(
            settled.select("pair", F.col("id").alias("t"), "dist", "sigma"), ["pair", "t"]
        )
        .select("pair", F.col("t").alias("cur"), "dist"),
        _active_agg,
    )
    n_active = int(m["na"] or 0)
    visits = []
    cur = t_dist
    for _lvl in range(vd + 2):
        if n_active == 0:
            break
        active = cur.where(F.col("dist") > 1)
        preds = (
            active.join(eu.withColumnRenamed("dst", "cur").withColumnRenamed("src", "pred"), "cur")
            .join(
                settled.select(
                    "pair", F.col("id").alias("pred"), F.col("dist").alias("pd"), F.col("sigma").alias("psig")
                ),
                ["pair", "pred"],
            )
            .where(F.col("pd") == F.col("dist") - 1)
        )
        # σ-weighted deterministic choice: argmax by (sigma-scaled hash
        # desc, pred asc) — a grouped min-struct over (-score, pred,
        # dist); pred is unique per (pair, cur) (distinct arcs ⋈ unique
        # settled rows) and dist is constant within the group, so the
        # selected row is identical to the old row_number window's while
        # the hash aggregate drops the per-level SORT
        score = F.col("psig") * F.abs(
            F.xxhash64(F.lit(seed), "pair", "pred", "dist")
        )
        chosen, m = checkpoint_observe(
            preds.groupBy("pair", "cur")
            .agg(
                F.min(
                    F.struct(
                        (-score).alias("ns"),
                        F.col("pred").alias("pred"),
                        F.col("dist").alias("dist"),
                    )
                ).alias("sel")
            )
            .select(
                "pair",
                F.col("sel.pred").alias("cur"),
                (F.col("sel.dist") - 1).alias("dist"),
            ),
            _active_agg,
        )
        n_active = int(m["na"] or 0)
        visits.append(chosen.where(F.col("dist") >= 1).select("pair", F.col("cur").alias("id")))
        cur = chosen

    spark = eu.sparkSession
    if not visits:
        return spark.createDataFrame([], "pair BIGINT, id BIGINT")
    allv = visits[0]
    for v in visits[1:]:
        allv = allv.union(v)
    return allv


def kadabra_betweenness(
    edges_undirected: DataFrame,
    err: float = 0.05,
    delta: float = 0.1,
    start_factor: int = 100,
    max_rounds: int = 8,
    seed: int = 13,
) -> DataFrame:
    """KADABRA adaptive betweenness (Borassi-Natale 2016; reference
    ``centrality/KadabraBetweenness.hpp:82``, absolute k=0 variant):
    sample shortest-path batches; after each batch, per-node lower/upper
    Chernoff-style error bounds f/g decide stopping — every node must be
    within ``err`` with confidence 1−δ, or the VC-dimension budget
    ω = 0.5/err²·(log₂(VD−1)+1+ln(0.5/δ)) is exhausted
    (KadabraBetweenness.cpp:309,475).

    Per-node δ guesses use the uniform δ/(2n) split (the reference's
    starting guess; its computeDeltaGuess binary-search refinement
    re-allocates the same total confidence and is a constant-factor
    sample-size tweak — documented divergence).

    Spark shape: the sampling batch is ONE pair-keyed multi-source BFS
    (all pairs advance together); the stopping rule is a scalar aggregate
    per round — the adaptive loop is driver-coordinated, the data work is
    fully distributed. → (id, kadabra_bc, err_lower, err_upper)."""
    import math as _math

    spark = edges_undirected.sparkSession
    eu = edges_undirected.select("src", "dst")
    eu = checkpoint(eu.union(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())
    nodes = checkpoint(eu.select(F.col("src").alias("id")).distinct())
    n = nodes.count()
    vd = diameter_double_sweep(edges_undirected).collect()[0][0] or 2
    vd = max(int(vd), 2)

    omega = 0.5 / err / err * (_math.log2(max(vd - 1, 2)) + 1 + _math.log(0.5 / delta))
    batch = max(32, int(omega / start_factor))
    delta_node = delta / (2.0 * n)
    log_inv_d = _math.log(1.0 / delta_node)

    counts = None
    n_pairs = 0
    for rnd in range(max_rounds):
        # distributed top-k by seeded hash instead of a global row_number
        # window (which single-tasks the whole vertex set — see _rk_pairs);
        # the local re-rank window covers only the O(batch) sampled rows
        shift = batch + 1 + rnd
        k = int(min(batch + shift, n))
        top = (
            nodes.withColumn("h", F.xxhash64(F.lit(seed * 1000 + rnd), "id"))
            .orderBy("h", "id")
            .limit(k)
        )
        from icebug_spark.plans.zipindex import dense_index

        # two-pass zipindex rank over the O(batch) sampled rows — no
        # unpartitioned window (see _rk_pairs)
        ranked = dense_index(top, ["h", "id"], out="rn", assume_distinct=True)
        s_side = ranked.where(F.col("rn") < batch).select(
            F.col("rn").alias("pair"), F.col("id").alias("s")
        )
        t_side = (
            ranked.withColumn("rn2", F.pmod(F.col("rn") - F.lit(shift), F.lit(k)))
            .where(F.col("rn2") < batch)
            .select(F.col("rn2").alias("pair"), F.col("id").alias("t"))
        )
        # the pair count rides the checkpoint's materializing action
        pairs, pm = checkpoint_observe(
            s_side.join(t_side, "pair").where(F.col("s") != F.col("t")),
            F.count(F.lit(1)).alias("np"),
        )
        n_pairs += int(pm["np"] or 0)
        new = _pair_path_visits(eu, pairs, vd, seed + rnd)

        # stopping rule: all nodes' f/g error bounds below err, or budget
        # spent (KadabraBetweenness.cpp:45-104,475). The bound aggregate
        # over the VISITED nodes rides the counts checkpoint as an
        # observed metric; the never-visited nodes (cnt absent from the
        # counts table) all share ONE bound value — bet = 0.0 — computed
        # driver-side with the same IEEE double operations in the same
        # order as the old Spark expression (so the stopping decision's
        # float path is unchanged; pinned-trajectory test in
        # tests/test_centrality2.py). This removes the per-round
        # nodes⟗counts scalar job.
        bet = F.col("cnt").cast("double") / n_pairs
        tmp_l = F.lit(omega / n_pairs - 1.0 / 3)
        tmp_u = F.lit(omega / n_pairs + 1.0 / 3)
        err_l = F.least(
            F.lit(log_inv_d / n_pairs)
            * (-tmp_l + F.sqrt(tmp_l * tmp_l + 2 * bet * omega / log_inv_d)),
            bet,
        )
        err_u = F.least(
            F.lit(log_inv_d / n_pairs)
            * (tmp_u + F.sqrt(tmp_u * tmp_u + 2 * bet * omega / log_inv_d)),
            1 - bet,
        )
        counts, met = checkpoint_observe(
            new
            if counts is None
            else counts.unionByName(new)
            .groupBy("id")
            .agg(F.sum("cnt").alias("cnt")),
            F.max(F.greatest(err_l, err_u)).alias("w"),
            F.count(F.lit(1)).alias("nr"),
        )
        worst = met["w"]
        if int(met["nr"] or 0) < n:
            # zero-count node bound, bet = 0.0 (same ops/order as the old
            # in-plan expression evaluated at cnt IS NULL)
            tl = omega / n_pairs - 1.0 / 3
            tu = omega / n_pairs + 1.0 / 3
            zl = min(
                log_inv_d / n_pairs
                * (-tl + _math.sqrt(tl * tl + 2 * 0.0 * omega / log_inv_d)),
                0.0,
            )
            zu = min(
                log_inv_d / n_pairs
                * (tu + _math.sqrt(tu * tu + 2 * 0.0 * omega / log_inv_d)),
                1 - 0.0,
            )
            zbound = max(zl, zu)
            worst = zbound if worst is None else max(float(worst), zbound)
        if worst is not None and worst < err:
            break
        if n_pairs >= omega:
            break

    bet = F.coalesce(F.col("cnt"), F.lit(0)).cast("double") / n_pairs
    tmp_l = F.lit(omega / n_pairs - 1.0 / 3)
    tmp_u = F.lit(omega / n_pairs + 1.0 / 3)
    err_l = F.least(
        F.lit(log_inv_d / n_pairs)
        * (-tmp_l + F.sqrt(tmp_l * tmp_l + 2 * bet * omega / log_inv_d)),
        bet,
    )
    err_u = F.least(
        F.lit(log_inv_d / n_pairs)
        * (tmp_u + F.sqrt(tmp_u * tmp_u + 2 * bet * omega / log_inv_d)),
        1 - bet,
    )
    return nodes.join(counts, "id", "left").select(
        "id",
        F.round(bet, 6).alias("kadabra_bc"),
        F.round(err_l, 6).alias("err_lower"),
        F.round(err_u, 6).alias("err_upper"),
    )


def k_path_centrality(
    edges_undirected: DataFrame,
    k: int = 4,
    walks_per_node: int = 4,
    seed: int = 11,
) -> DataFrame:
    """KPathCentrality (``centrality/KPathCentrality.hpp:18``,
    ``KPathCentrality.cpp:52-97``): random simple paths; like the
    reference, each walk draws a length l uniform in 1..k and EVERY
    arrival is counted (``counter[v]++`` per hop — the final endpoint
    included, so a degree-1 node reached by a walk scores too).
    Distributed re-parameterization (documented): walks are stratified
    (``walks_per_node`` per start) instead of t random starts, and the
    score is visits / total walks instead of the reference's
    k·n·counter/t scaling — same ranking, bounded [0, 1]. Walks advance
    in lock-step (one join per hop, all walks at once); next hop chosen
    by seeded hash over not-yet-visited neighbors (visited kept as an
    array column). → (id, kpath) 6dp."""
    eu = edges_undirected.select("src", "dst")
    eu = checkpoint(eu.union(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())
    nodes = eu.select(F.col("src").alias("id")).distinct()
    total_walks = nodes.count() * walks_per_node

    walks = checkpoint(nodes.crossJoin(
        F.broadcast(
            nodes.sparkSession.range(walks_per_node).select(F.col("id").alias("w"))
        )
    ).select(
        F.concat_ws("_", "id", "w").alias("walk"),
        F.col("id").alias("cur"),
        F.array("id").alias("visited"),
        # per-walk length l ~ uniform{1..k} (KPathCentrality.cpp:54)
        (F.pmod(F.xxhash64(F.lit(seed), F.concat_ws("_", "id", "w")), F.lit(k)) + 1)
        .alias("l"),
    ))

    visits = []
    cur = walks
    for hop in range(k):
        step = (
            cur.where(F.col("l") > hop)
            .join(eu.withColumnRenamed("src", "cur"), "cur")
            .where(~F.array_contains("visited", F.col("dst")))
        )
        # seeded-hash choice via grouped min-struct ((hash, dst) unique
        # per walk; visited/l constant within the group) — identical
        # selection, no per-hop window SORT
        nxt, m = checkpoint_observe(
            step.groupBy("walk")
            .agg(
                F.min(
                    F.struct(
                        F.xxhash64(
                            F.lit(seed), "walk", "dst", F.lit(hop)
                        ).alias("h"),
                        F.col("dst").alias("dst"),
                        F.col("visited").alias("visited"),
                        F.col("l").alias("l"),
                    )
                ).alias("sel")
            )
            .select(
                "walk",
                F.col("sel.dst").alias("cur"),
                F.array_union("sel.visited", F.array("sel.dst")).alias("visited"),
                F.col("sel.l").alias("l"),
            ),
            F.count(F.lit(1)).alias("n"),
        )
        if int(m["n"] or 0) == 0:
            break
        # every arrival counts (KPathCentrality.cpp:88 counter[v]++)
        visits.append(nxt.select(F.col("cur").alias("id")))
        cur = nxt

    if not visits:
        return nodes.select("id", F.lit(0.0).alias("kpath"))
    allv = visits[0]
    for v in visits[1:]:
        allv = allv.union(v)
    return (
        nodes.join(allv.groupBy("id").agg(F.count(F.lit(1)).alias("c")), "id", "left")
        .select(
            "id",
            F.round(
                F.coalesce("c", F.lit(0)).cast("double") / F.lit(float(total_walks)), 6
            ).alias("kpath"),
        )
    )


def square_clustering(edges_undirected: DataFrame) -> DataFrame:
    """LocalSquareClusteringCoefficient
    (``centrality/LocalSquareClusteringCoefficient.hpp:18``): per node v,
    C4(v) = #squares through v / #potential squares =
    Σ_{u<w ∈ N(v)} q(u,w) / Σ_{u<w ∈ N(v)} [deg-based potential], using
    the standard formula with q(u,w) = |N(u)∩N(w)∖{v}|.
    Spark shape: wedge join (2-paths centered at v) then common-neighbor
    count per outer pair. → (id, square_cc) 6dp."""
    eu = edges_undirected.select("src", "dst")
    eu = checkpoint(eu.union(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())

    # wedges centered at v: u - v - w with u < w
    e1 = eu.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    e2 = eu.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "v").where(F.col("u") < F.col("w"))

    # q(u,w): common neighbors of u and w (any x adjacent to both)
    nu = eu.select(F.col("src").alias("u"), F.col("dst").alias("x"))
    nw = eu.select(F.col("src").alias("w"), F.col("dst").alias("x"))
    common = (
        nu.join(nw, "x")
        .where(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("q_all"))
    )
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    # edge indicator between u and w (a(u,w) term of the Lind et al formula)
    uw_edge = eu.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.lit(1).alias("is_edge")
    )

    j = (
        wedges.join(common, ["u", "w"], "left")
        .na.fill({"q_all": 0})
        .join(uw_edge, ["u", "w"], "left")
        .na.fill({"is_edge": 0})
        .join(deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("id", "w").withColumnRenamed("deg", "dw"), "w")
    )
    # squares through (v,u,w): common neighbors of u,w other than v
    # q_v = q_all − 1 (v itself is always a common neighbor in a wedge).
    # Potential per the reference (LocalSquareClusteringCoefficient.cpp:37-40):
    # potential(u,w) = deg(u) + deg(w) − numCommonNeighbors − 1, minus 2 more
    # if (u,w) is an edge — i.e. with η = 1 + q_v + a(u,w) it's the SUM form
    # q_v + (k_u − η) + (k_w − η) of the remaining free stubs (a pure 4-cycle
    # still scores exactly 1.0: q_v=1, k_u=k_w=2, η=2 → 1/1).
    eta = 1 + (F.col("q_all") - 1) + F.col("is_edge")
    per_pair = j.select(
        "v",
        (F.col("q_all") - 1).alias("squares"),
        (
            (F.col("q_all") - 1)
            + (F.col("du") - eta)
            + (F.col("dw") - eta)
        ).alias("potential"),
    )
    agg = per_pair.groupBy(F.col("v").alias("id")).agg(
        F.sum("squares").alias("sq"), F.sum("potential").alias("pot")
    )
    return agg.select(
        "id",
        F.round(
            F.when(F.col("pot") > 0, F.col("sq") / F.col("pot")).otherwise(0.0), 6
        ).alias("square_cc"),
    )


def gedwalk_linear_proxy(
    edges_undirected: DataFrame, k: int = 3, alpha: float = 0.5, depth: int = 3
) -> DataFrame:
    """LINEAR walk-exposure proxy for GedWalk: score(S) = Σ_{c∈S} Σ_ℓ
    α^ℓ (A^ℓ·1)_c — walks ENDING in the group. Linear in the group
    indicator, so greedy ≡ top-k of the per-node score; ``depth``
    distributed MxV rounds + ONE ranking. This is NOT the reference
    objective (see :func:`gedwalk_group` for the real one) — kept as a
    cheap ranking/pruning heuristic. → (rank, id, gain)."""
    spark = edges_undirected.sparkSession
    eu = edges_undirected.select("src", "dst")
    eu = checkpoint(eu.union(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())

    y = checkpoint(
        eu.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("t", F.lit(1.0))
    )
    terms = []
    a = 1.0
    for _ in range(depth):
        y = checkpoint(
            eu.join(y.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("t").alias("t"))
        )
        a *= alpha
        terms.append(y.select("id", (F.lit(a) * F.col("t")).alias("term")))
    allt = terms[0]
    for t in terms[1:]:
        allt = allt.unionByName(t)
    score = allt.groupBy("id").agg(F.sum("term").alias("s"))

    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    pool = deg.orderBy(F.desc("d"), F.asc("id")).limit(max(3 * k, 12))
    sel = (
        pool.join(score, "id", "left")
        .na.fill({"s": 0.0})
        .orderBy(F.desc("s"), F.desc("d"), F.asc("id"))
        .limit(k)
        .collect()
    )
    out = [
        (rank, int(r["id"]), round(float(r["s"]), 6)) for rank, r in enumerate(sel)
    ]
    return spark.createDataFrame(out, "rank long, id long, gain double")


def gedwalk_group(
    edges_undirected: DataFrame,
    k: int = 3,
    alpha: float | None = 0.5,
    depth: int = 3,
    pool_size: int | None = None,
) -> DataFrame:
    """GedWalk greedy group selection with the REFERENCE objective
    (``centrality/GedWalk.hpp:19``; pathsHit/pathsMiss recurrence
    ``GedWalk.cpp:300-346``): score(S) = Σ_{ℓ=1..depth} α^ℓ · #{walks of
    length ℓ that TOUCH S} — non-linear and submodular. Touching walks =
    total walks minus walks avoiding S, and walks avoiding S are exactly
    the walks of the vertex-induced subgraph G[V∖S] (the reference's
    pathsMiss vector, which zeroes group rows every level). So the
    marginal gain of candidate c given S is

        gain(c | S) = Σ_ℓ α^ℓ (M_ℓ(S) − M_ℓ(S ∪ {c})),   M_ℓ(X) = 1ᵀA_{V∖X}^ℓ 1

    — no total-walk term needed. Per greedy round a batch of
    candidates' avoid-masses is computed in ONE distributed pass with
    the candidate id as an extra key column: state (c, id, t) starts at
    1 for id ∉ S∪{c} and each level is a single edges⋈state shuffle +
    filtered aggregation (|batch|·|E| rows — the 1e9-edge shape; no
    per-candidate driver loop, one 1-row collect per round for the
    argmax).

    Pruning is CONSERVATIVE via the reference's bound queue
    (``GedWalk.cpp:estimateGains`` — there the product-sum walk
    estimate Σ_m paths[ℓ−m][u]·paths[m][u] plus a geometric tail; the
    objective here is already truncated at ``depth`` so the tail term
    is zero and the bound is the product sum itself):

        bound(u) = Σ_{ℓ=1..depth} α^ℓ Σ_{m=0..ℓ} p_{ℓ−m}(u)·p_m(u),
        p_m(u) = (Aᵐ·1)_u

    counts every (prefix, suffix) split of a length-ℓ walk at u — i.e.
    each walk once per VISIT of u — so bound(u) ≥ gain(u | ∅), and the
    touch objective is monotone submodular (weighted walk coverage), so
    gain(u | S) ≤ gain(u | ∅) ≤ bound(u) for every S. The lazy greedy
    evaluates the top-``pool_size`` batch by bound exactly and accepts
    the batch argmax only when its TRUE gain strictly exceeds the next
    unevaluated bound — otherwise the batch grows 4× and re-evaluates
    (termination: a batch covering all nodes has no next bound). A
    pruned node therefore provably cannot beat the selected one.
    ``pool_size`` only sets the initial batch (default max(3k, 12)) —
    it no longer caps what the greedy can see. Greedy ties break
    (gain DESC, deg DESC, id ASC). → (rank, id, gain), gain = true
    marginal gain, 6dp."""
    spark = edges_undirected.sparkSession
    eu = edges_undirected.select("src", "dst")
    eu = checkpoint(eu.union(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())

    nodes = checkpoint(eu.select(F.col("src").alias("id")).distinct())
    deg = checkpoint(
        eu.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    if alpha is None:
        # reference default (GedWalk.cpp:122, GEOMETRIC bound strategy):
        # alpha = 1 / (1 + max in-degree) keeps the geometric walk
        # series summable
        max_d = deg.agg(F.max("d")).collect()[0][0] or 1
        alpha = 1.0 / (1.0 + float(max_d))

    # per-level walk vectors p_m = Aᵐ·1, all levels as COLUMNS of one
    # frame — they feed the Σ-total M_*(∅) AND the per-node bound below
    pv = nodes.withColumn("p0", F.lit(1.0))
    y = nodes.withColumn("t", F.lit(1.0))
    for m in range(1, depth + 1):
        y = checkpoint(
            eu.join(y.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("t").alias("t"))
        )
        pv = pv.join(y.withColumnRenamed("t", f"p{m}"), "id", "left").na.fill(
            {f"p{m}": 0.0}
        )
    # bound(u) = Σ_ℓ α^ℓ Σ_m p_{ℓ-m}·p_m ≥ gain(u|S) for every S (see
    # docstring; the reference's estimateGains product-sum, zero tail)
    bound_expr = None
    a = 1.0
    for lvl in range(1, depth + 1):
        a *= alpha
        conv = sum(
            F.col(f"p{lvl - m}") * F.col(f"p{m}") for m in range(lvl + 1)
        )
        bound_expr = (a * conv) if bound_expr is None else bound_expr + a * conv
    bounds = checkpoint(
        pv.join(deg, "id")
        .select(
            "id", "d", bound_expr.alias("bound"),
            sum(
                F.lit(alpha**m) * F.col(f"p{m}") for m in range(1, depth + 1)
            ).alias("s"),
        )
    )
    prev_miss = float(bounds.agg(F.sum("s")).collect()[0][0] or 0.0)
    n_all = bounds.count()

    def exact_gains(pool_ids: list[int], group: list[int]) -> list:
        """TRUE marginal gains for a candidate batch, one keyed pass."""
        cands = bounds.select(F.col("id").alias("c"), "d").where(
            F.col("c").isin(pool_ids)
        )
        nodes_r = nodes
        if group:
            nodes_r = nodes.where(~F.col("id").isin(group))
        st = (
            cands.select("c")
            .crossJoin(nodes_r)
            .where(F.col("id") != F.col("c"))
            .withColumn("t", F.lit(1.0))
        )
        terms, y, a = [], st, 1.0
        for _ in range(depth):
            y = (
                eu.join(y.withColumnRenamed("id", "dst"), "dst")
                .groupBy("c", F.col("src").alias("id"))
                .agg(F.sum("t").alias("t"))
                .where(F.col("id") != F.col("c"))
            )
            if group:
                y = y.where(~F.col("id").isin(group))
            a *= alpha
            terms.append(y.groupBy("c").agg((F.lit(a) * F.sum("t")).alias("m")))
        allm = terms[0]
        for m in terms[1:]:
            allm = allm.unionByName(m)
        miss = allm.groupBy("c").agg(F.sum("m").alias("miss"))
        return (
            cands.join(miss, "c", "left")
            .na.fill({"miss": 0.0})
            .select(
                "c", "d",
                (F.lit(prev_miss) - F.col("miss")).alias("gain"),
                "miss",
            )
            .orderBy(F.desc("gain"), F.desc("d"), F.asc("c"))
            .limit(1)
            .collect()
        )

    selected: list[tuple[int, int, float]] = []
    group: list[int] = []
    for rank in range(k):
        batch = pool_size or max(3 * k, 12)
        best = None
        while True:
            avail = bounds
            if group:
                avail = avail.where(~F.col("id").isin(group))
            # batch+1: the extra row's bound is the acceptance threshold
            rows = (
                avail.orderBy(F.desc("bound"), F.asc("id"))
                .limit(batch + 1)
                .collect()
            )
            pool_ids = [int(r["id"]) for r in rows[:batch]]
            if not pool_ids:
                break
            next_bound = (
                float(rows[batch]["bound"]) if len(rows) > batch else float("-inf")
            )
            cand = exact_gains(pool_ids, group)
            best = cand[0] if cand else None
            if best is None:
                break
            # conservative acceptance: a pruned node's bound ≥ its gain,
            # so only a STRICTLY larger true gain may stop the search
            # (equality could lose a tie-break to an unevaluated node)
            if float(best["gain"]) > next_bound or batch >= n_all:
                break
            batch *= 4
        if best is None:
            break
        selected.append((rank, int(best["c"]), round(float(best["gain"]), 6)))
        group.append(int(best["c"]))
        prev_miss = float(best["miss"])
    return spark.createDataFrame(selected, "rank long, id long, gain double")


def complex_paths(
    edges_undirected: DataFrame, source: int, threshold: int = 2, max_rounds: int = 30
) -> DataFrame:
    """ComplexPaths (``centrality/ComplexPaths.hpp:45``): complex-contagion
    spreading — a node activates once ≥ ``threshold`` of its neighbors are
    active (source seeds its whole neighborhood). Returns activation round
    per node: (id, round) with round=0 for seeds, null-free (unreached
    nodes omitted). Each round = one join + groupBy over active set."""
    eu = edges_undirected.select("src", "dst")
    eu = checkpoint(eu.union(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())

    seeds = checkpoint(
        eu.where(F.col("src") == source)
        .select(F.col("dst").alias("id"))
        .union(eu.sparkSession.createDataFrame([(source,)], ["id"]))
        .distinct()
        .withColumn("round", F.lit(0))
    )
    active = seeds
    for rnd in range(1, max_rounds + 1):
        # emptiness observed during the checkpoint; the running active
        # set stays a lazy union of the per-round checkpointed pieces
        # (depth <= max_rounds) instead of re-materializing per round —
        # one Spark job per round instead of three
        newly, m = checkpoint_observe(
            eu.join(active.withColumnRenamed("id", "src").select("src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).alias("k_active"))
            .where(F.col("k_active") >= threshold)
            .join(active.select("id"), "id", "left_anti")
            .select("id", F.lit(rnd).alias("round")),
            F.count(F.lit(1)).alias("n"),
        )
        if int(m["n"] or 0) == 0:
            break
        active = active.union(newly)
    return active
