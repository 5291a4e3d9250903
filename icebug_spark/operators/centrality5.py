"""Round-9 centrality tail variants — the remaining named algorithms of
the reference's centrality/ module:

- :func:`group_closeness_local_search` / :func:`group_closeness_local_swaps`
  — swap-based local search minimizing group FARNESS Σ_v d(v, S)
  (reference ``centrality/GroupClosenessLocalSearch.hpp:13`` /
  ``GroupClosenessLocalSwaps.hpp:26``). The reference evaluates swaps
  with AVX-packed randomized reachability estimates; here every swap is
  evaluated EXACTLY from one batched multi-source distance table — a
  deterministic, conservative instantiation of the same local search
  (a swap is taken iff it strictly decreases true farness, which the
  reference's (1−ε)-approximate rule accepts a superset of).
- :func:`approx_closeness` — per-node closeness estimates from pivot
  sampling (reference ``centrality/ApproxCloseness.hpp:22``, the
  Cohen et al. pivot/LCC estimator). Distributed shape: one batched
  multi-source BFS from the sample; each node's estimate combines its
  own sampled distances (exact term) with the pivot's distances to the
  rest (the reference's OUTBOUND/INBOUND/SUM estimates collapse to the
  same formula on the undirected graphs this engine stores).
- :func:`top_closeness` — exact top-k PLAIN closeness with the NBcut
  upper-bound pruning (reference ``centrality/TopCloseness.hpp:22``):
  level-synchronous bound  c̃(v) ≤ (r_t·d̃) where the BFS-level
  neighborhood bound replaces the exact farness until v is settled;
  nodes whose bound cannot beat the current k-th best are never fully
  expanded. Spark shape: candidates run through the SAME pair-keyed
  multi-source BFS; pruning happens BETWEEN bound rounds on the driver
  (set shrinks), traversal stays distributed.
- :func:`approx_spanning_edge` — spanning-edge centrality by
  uniform-spanning-tree sampling (reference
  ``centrality/ApproxSpanningEdge.hpp:22``): score(e) ≈ fraction of
  sampled USTs (Wilson's algorithm) containing e. Trees are sampled in
  parallel (one per partition seed) via Arrow-batched mapInPandas over
  a broadcast adjacency — each tree is O(n·cover-time) local work, the
  aggregation is one groupBy.

All cite reference semantics only; no code is shared with the C++.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.traversal import multi_source_bfs
from icebug_spark.plans.iterate import checkpoint

_INF = 1 << 30


def _distance_table(
    eu: DataFrame, sources: list[int], max_hops: int
) -> DataFrame:
    return checkpoint(
        multi_source_bfs(eu, sorted(set(int(s) for s in sources)), max_hops=max_hops)
        .select(F.col("source").alias("s"), F.col("id").alias("v"), "dist")
    )


def _swap_local_search(
    eu: DataFrame,
    initial_group: list[int],
    max_swaps: int,
    candidate_factor: int,
    max_hops: int,
) -> tuple[list[int], float, int]:
    """Shared kernel: exact-evaluation swap local search on group
    farness. Returns (final_group, farness, n_swaps)."""
    spark = eu.sparkSession
    group = [int(x) for x in initial_group]
    if not group:
        raise ValueError("empty group")
    k = len(group)
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    pool = [
        int(r["id"])
        for r in deg.orderBy(F.col("deg").desc(), "id")
        .limit(k * candidate_factor + k)
        .collect()
        if int(r["id"]) not in group
    ][: k * candidate_factor]
    d = _distance_table(eu, group + pool, max_hops)

    n_swaps = 0
    universe = checkpoint(d.select("v").distinct())
    for _ in range(max(0, max_swaps)):
        # Delta-restricted swap evaluation — ONE Spark job per round.
        # Removing member o and adding candidate c only changes the
        # contribution of nodes where o is the ARGMIN member distance or
        # where c reaches the node, so the farness CHANGE decomposes as
        #   Δ(o,c) = A(o) + Bc(c) + C(c,o)
        # with A(o)  = Σ_{v: arg1=o} (min2 − min1)           (o's loss),
        #      Bc(c) = Σ_{v: c reaches} min(0, dc − min1)    (c's gain),
        #      C(c,o)= Σ_{v: c reaches, arg1=o}
        #                min(0, dc − min2) − min(0, dc − min1)
        # (the correction where both effects overlap). Nodes in the
        # universe a group does NOT reach within max_hops count as a
        # fixed _INF penalty on BOTH sides, so a swap that loses coverage
        # of far nodes can never read as a spurious improvement
        # (connected-graph / sufficient-max_hops contract documented on
        # the public wrappers). All arithmetic is exact longs — the
        # (Δ, o, c) argmin and the strict-decrease acceptance are
        # bit-identical to the dense universe×swaps grid it replaces
        # (the objective is Δ plus a per-round constant).
        mdf = spark.createDataFrame([(x,) for x in group], "s BIGINT")
        cands = spark.createDataFrame([(c,) for c in pool], "s BIGINT")
        stats = checkpoint(
            universe.join(
                d.join(F.broadcast(mdf), "s")
                .groupBy("v")
                .agg(
                    F.slice(
                        F.sort_array(F.collect_list(F.struct("dist", "s"))), 1, 2
                    ).alias("top2")
                ),
                "v",
                "left",
            )
            .select(
                "v",
                # F.get returns NULL out of bounds (ANSI-safe for k=1)
                F.coalesce(F.get("top2", 0)["dist"], F.lit(_INF)).alias("min1"),
                F.get("top2", 0)["s"].alias("arg1"),
                F.coalesce(F.get("top2", 1)["dist"], F.lit(_INF)).alias("min2"),
            )
        )
        # A(o) rows and the candidate (B, C) rows ride ONE tagged union →
        # one groupBy → one collect: 2 Spark jobs per swap round (stats
        # checkpoint + this) instead of 3 (stats + two separate collects).
        # A-rows carry cand=NULL; the grouped output is k + k·|pool| cells.
        a_part = stats.where(F.col("arg1").isNotNull()).select(
            F.lit(None).cast("bigint").alias("cand"),
            F.col("arg1").alias("o"),
            (F.col("min2") - F.col("min1")).alias("v1"),
            F.lit(0).cast("bigint").alias("v2"),
        )
        # candidate-reached rows only — no dense universe×cands grid;
        # the aggregation yields both the per-candidate gain (summed over
        # arg1) and the per-(candidate, arg1) overlap correction
        dcr = (
            d.join(F.broadcast(cands), "s")
            .select(F.col("s").alias("cand"), "v", F.col("dist").alias("dc"))
            .join(stats, "v")
        )
        gain1 = F.least(F.lit(0), F.col("dc") - F.col("min1"))
        gain2 = F.least(F.lit(0), F.col("dc") - F.col("min2"))
        bc_part = dcr.select(
            "cand",
            F.col("arg1").alias("o"),
            gain1.alias("v1"),
            (gain2 - gain1).alias("v2"),
        )
        rows = (
            a_part.unionByName(bc_part)
            .groupBy("cand", "o")
            .agg(F.sum("v1").alias("v1"), F.sum("v2").alias("v2"))
            .collect()
        )
        # combine on the driver: the grid is only k·|pool| cells
        a_map: dict[int, int] = {}
        b_map: dict[int, int] = {}
        c_map: dict[tuple[int, int], int] = {}
        for r in rows:
            if r["cand"] is None:
                a_map[int(r["o"])] = int(r["v1"])
            else:
                cnd = int(r["cand"])
                b_map[cnd] = b_map.get(cnd, 0) + int(r["v1"])
                if r["o"] is not None:
                    c_map[(cnd, int(r["o"]))] = int(r["v2"])
        best = min(
            (
                (
                    a_map.get(o, 0) + b_map.get(cnd, 0) + c_map.get((cnd, o), 0),
                    o,
                    cnd,
                )
                for o in group
                for cnd in pool
            ),
            default=None,
        )
        if best is None or best[0] >= 0:
            break
        _, m_out, m_in = best
        group = [m for m in group if m != m_out] + [m_in]
        pool = [c for c in pool if c != m_in] + [m_out]
        n_swaps += 1
    # final farness (one job): penalized sum over the reached universe
    mdf = spark.createDataFrame([(x,) for x in group], "s BIGINT")
    row = (
        universe.join(
            d.join(F.broadcast(mdf), "s").groupBy("v").agg(F.min("dist").alias("db")),
            "v",
            "left",
        )
        .agg(F.sum(F.coalesce("db", F.lit(_INF))).alias("f"))
        .collect()[0]
    )
    return sorted(group), float(row["f"] or 0), n_swaps


def group_closeness_local_search(
    eu: DataFrame,
    initial_group: list[int],
    max_iterations: int = 100,
    candidate_factor: int = 4,
    max_hops: int = 16,
) -> DataFrame:
    """GroupClosenessLocalSearch (reference
    ``centrality/GroupClosenessLocalSearch.hpp:13``): improve a seed
    group by (remove u ∈ S, add v ∉ S) swaps while group farness
    Σ_v d(v, S) strictly decreases, up to ``max_iterations`` swaps.
    Candidates come from a degree-top pool of ``candidate_factor``·k
    outsiders (the documented scale contract — the reference scans all
    outsiders; at cluster scale the pool bounds the swap grid while the
    distance table stays one batched multi-source BFS).

    Contract (like the reference): the graph should be connected and
    ``max_hops`` at least its radius from the group; nodes the group
    cannot reach within ``max_hops`` count as a fixed 2^30 penalty in
    the farness objective (so a swap can never "improve" by dropping
    coverage of far nodes), and that penalty is included in the
    reported farness.
    → (id, farness, n_swaps): one row per final member, objective and
    swap count replicated."""
    group, far, n_swaps = _swap_local_search(
        eu, initial_group, max_iterations, candidate_factor, max_hops
    )
    spark = eu.sparkSession
    return spark.createDataFrame(
        [(g, far, n_swaps) for g in group],
        "id BIGINT, farness DOUBLE, n_swaps INT",
    )


def group_closeness_local_swaps(
    eu: DataFrame,
    initial_group: list[int],
    max_swaps: int = 100,
    candidate_factor: int = 4,
    max_hops: int = 16,
) -> DataFrame:
    """GroupClosenessLocalSwaps (reference
    ``centrality/GroupClosenessLocalSwaps.hpp:26``): the bounded-swap
    variant — same farness-decreasing swap walk, capped at ``max_swaps``
    (reference default 100). The reference accepts a swap when its
    RANDOMIZED farness-decrease estimate clears (1−ε); this exact
    evaluation accepts the subset of those swaps that truly decrease
    farness (documented determinism divergence, same local-optimum
    guarantee). Same connected-graph / ``max_hops``-radius contract and
    unreached-node penalty as :func:`group_closeness_local_search`.
    → (id, n_swaps)."""
    group, _far, n_swaps = _swap_local_search(
        eu, initial_group, max_swaps, candidate_factor, max_hops
    )
    spark = eu.sparkSession
    return spark.createDataFrame(
        [(g, n_swaps) for g in group], "id BIGINT, n_swaps INT"
    )


def approx_closeness(
    eu: DataFrame,
    n_samples: int = 16,
    epsilon: float = 0.1,
    normalized: bool = False,
    seed: int = 11,
    max_hops: int = 32,
    samples: list[int] | None = None,
) -> DataFrame:
    """ApproxCloseness (reference ``centrality/ApproxCloseness.cpp:63``,
    the Cohen et al. pivot estimator, undirected path): sample k pivots,
    assign every node its CLOSEST pivot (pivot, δ); per pivot BFS,
    every (sample s, node u) distance lands in one of three buckets —
    LC (close, trusted exactly: ε==0, or d ≤ δ(u)·(1/ε−1), or
    d(s, p(u)) ≤ δ(u)/ε — the order-independent closure of the
    reference's streaming last/list bookkeeping), HC (far but
    pivot-corrected: contributes d with squared error (d − d(s,p(u)))²),
    and the H tail read from u's OWN pivot BFS: HSum(u) = Σ{d(p(u),w) :
    d(p(u),w) > d(p(u),u)/ε} over non-sample w (the cpp:150 bin/tail
    accumulation, expressed as one range-partitioned suffix sum with
    marker rows — strict-inequality ties resolved exactly).

    farness estimate = HSum + HCSum + LCSum/p with
    p = LCNum / (n−1−HNum−k+LCNum); sampled nodes are EXACT.
    closeness = (n−1)/farness when normalized else 1/farness; SQErrEst
    per cpp:101-109. Connected-graph contract (the reference's own
    assumption). → (id, approx_closeness, sq_err) 6dp.

    Spark shape: ONE batched multi-source BFS from the k pivots; pivot
    assignment and every bucket is a join/aggregation; the tail sum is a
    window PARTITIONED BY pivot — nothing single-partition, k scales out."""
    spark = eu.sparkSession
    eu = checkpoint(eu.select("src", "dst"))
    nodes = checkpoint(eu.select(F.col("src").alias("id")).distinct())
    n = nodes.count()
    if samples is None:
        k = min(n_samples, n)
        samples = [
            int(r["id"])
            for r in nodes.withColumn("h", F.xxhash64(F.lit(seed), "id"))
            .orderBy("h", "id")
            .limit(k)
            .collect()
        ]
    else:
        # caller-pinned pivots (SQL-reproducible certificates)
        samples = sorted(int(s) for s in samples)
        k = len(samples)
    d = _distance_table(eu, samples, max_hops)  # (s, v, dist)

    # pivot: closest sample, ties by sample id (deterministic stand-in
    # for the reference's PQ settle order)
    from pyspark.sql import Window

    # argmin via grouped min-struct ((dist, s) ordering; (s, v) unique in
    # the distance table) — identical pivot choice, and the hash
    # aggregate drops the full SORT of the n×k distance table the
    # row_number window paid
    piv = checkpoint(
        d.groupBy("v")
        .agg(
            F.min(
                F.struct(F.col("dist").alias("dist"), F.col("s").alias("s"))
            ).alias("sel")
        )
        .select("v", F.col("sel.s").alias("pivot"), F.col("sel.dist").alias("delta"))
    )
    sample_df = spark.createDataFrame([(s,) for s in samples], "s BIGINT")
    # k x k pivot-to-pivot distances
    dp = d.join(
        F.broadcast(sample_df.withColumnRenamed("s", "v")), "v"
    ).select("s", F.col("v").alias("pivot"), F.col("dist").alias("dp"))

    ns = d.join(F.broadcast(sample_df.withColumnRenamed("s", "v")), "v", "left_anti")
    rows = (
        ns.join(piv, "v")
        .join(F.broadcast(dp), ["s", "pivot"], "left")
    )
    if epsilon == 0.0:
        lc = F.lit(True)
    else:
        lc = (
            (F.col("dist") <= F.col("delta") * (1.0 / epsilon - 1.0))
            | (F.col("dp") <= F.col("delta") / epsilon)
        )
    per_node = rows.groupBy("v").agg(
        F.sum(F.when(lc, F.col("dist"))).alias("lc_sum"),
        F.count(F.when(lc, F.lit(1))).alias("lc_num"),
        F.sum(F.when(lc, F.col("dist") * F.col("dist"))).alias("lc_sumsq"),
        F.sum(F.when(~lc, F.col("dist"))).alias("hc_sum"),
        F.sum(
            F.when(~lc, (F.col("dist") - F.col("dp")) * (F.col("dist") - F.col("dp")))
        ).alias("hc_sqerr"),
    )

    if epsilon == 0.0:
        tails = piv.select("v", F.lit(0.0).alias("h_sum"), F.lit(0).alias("h_num"))
    else:
        # suffix sums per pivot BFS with marker rows: member u of pivot s
        # reads Sigma{d(s,w) : d(s,w) > d(s,u)/eps} over non-sample w
        data = ns.select(
            "s",
            F.col("dist").cast("double").alias("key"),
            F.lit(1).alias("is_data"),
            F.col("dist").cast("double").alias("dsum"),
            F.lit(1).alias("dcnt"),
            F.lit(None).cast("long").alias("v"),
        )
        members = ns.join(
            piv.select("v", F.col("pivot").alias("s")), ["s", "v"]
        ).select(
            "s",
            (F.col("dist") / epsilon).cast("double").alias("key"),
            F.lit(0).alias("is_data"),
            F.lit(0.0).alias("dsum"),
            F.lit(0).alias("dcnt"),
            "v",
        )
        wt = (
            Window.partitionBy("s")
            .orderBy(F.col("key").desc(), F.col("is_data").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        tails = (
            data.unionByName(members)
            .withColumn("h_sum", F.sum("dsum").over(wt))
            .withColumn("h_num", F.sum("dcnt").over(wt))
            .where(F.col("is_data") == 0)
            .select("v", "h_sum", "h_num")
        )

    est = (
        per_node.join(tails, "v", "left")
        .na.fill({"h_sum": 0.0, "h_num": 0, "lc_sum": 0, "lc_num": 0,
                  "lc_sumsq": 0, "hc_sum": 0, "hc_sqerr": 0})
    )
    l_num = (F.lit(n - 1) - F.col("h_num") - F.lit(k) + F.col("lc_num")).cast("double")
    p = F.try_divide(F.col("lc_num").cast("double"), l_num)
    farness = (
        F.col("h_sum") + F.col("hc_sum") + F.try_divide(F.col("lc_sum"), p)
    )
    hc_num = F.lit(k) - F.col("lc_num")
    lc_sq_avg = F.try_divide(F.col("lc_sum"), F.col("lc_num")) * F.try_divide(
        F.col("lc_sum"), F.col("lc_num")
    )
    var_term = F.try_divide(F.lit(1.0), F.col("lc_num")) * (
        F.try_divide(F.col("lc_sumsq"), F.col("lc_num")) - lc_sq_avg
    ) * l_num
    # coalesce wraps ONLY the HC term: when hc_num > 0 but h_num == 0 the
    # try_divide is NULL and would otherwise null out (then zero via the
    # outer coalesce) the LC variance term too — the reference divides by
    # zero only inside the HC term itself (cpp:101-109)
    err = F.when(
        hc_num > 0,
        var_term
        + F.coalesce(
            F.try_divide(
                F.col("hc_sqerr"), (hc_num * F.col("h_num")).cast("double")
            ),
            F.lit(0.0),
        ),
    ).otherwise(var_term)
    score = F.when(
        F.lit(normalized), F.lit(float(n - 1)) / farness
    ).otherwise(F.lit(1.0) / farness)
    approx = est.select(
        F.col("v").alias("id"),
        F.round(score, 6).alias("approx_closeness"),
        F.round(F.coalesce(err, F.lit(0.0)), 6).alias("sq_err"),
    )

    exact_far = (
        d.groupBy(F.col("s").alias("id")).agg(F.sum("dist").alias("f"))
    )
    exact_score = F.when(
        F.lit(normalized), F.lit(float(n - 1)) / F.col("f")
    ).otherwise(F.lit(1.0) / F.col("f"))
    exact = exact_far.select(
        "id", F.round(exact_score, 6).alias("approx_closeness"),
        F.lit(0.0).alias("sq_err"),
    )
    return exact.unionByName(approx)


def top_closeness(
    eu: DataFrame,
    k: int = 10,
    candidate_factor: int = 4,
    max_hops: int = 32,
    max_expansions: int = 4,
) -> DataFrame:
    """TopCloseness, PLAIN closeness (reference
    ``centrality/TopCloseness.hpp:22``): exact top-k of
    c(v) = (n−1)/Σ_u d(v,u) on a connected undirected graph, without
    all-pairs BFS. The reference prunes with the NBcut level bound; the
    distributed analogue uses its L=1 instance — farness(v) ≥
    deg(v) + 2(n−1−deg(v)), so c(v) ≤ (n−1)/(2(n−1)−deg(v)), monotone in
    degree — making degree-descending order a valid bound order: exact
    batched BFS runs over a degree-top pool, and the pool is CERTIFIED
    sufficient when the bound of the best excluded node cannot beat the
    k-th best exact score; otherwise the pool doubles (the adaptive
    cutoff the reference's pruning loop realizes per-node).
    → (id, closeness) top-k, 6dp."""
    spark = eu.sparkSession
    deg = checkpoint(
        eu.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    n = deg.count()
    if n <= 1:
        return spark.createDataFrame([], "id BIGINT, closeness DOUBLE")
    pool_size = min(k * candidate_factor, n)
    for _ in range(max_expansions):
        cands = deg.orderBy(F.col("deg").desc(), "id").limit(pool_size)
        ids = [int(r["id"]) for r in cands.collect()]
        d = multi_source_bfs(eu, ids, max_hops=max_hops)
        far = d.groupBy(F.col("source").alias("id")).agg(
            F.sum("dist").alias("f")
        )
        top = (
            far.select("id", (F.lit(float(n - 1)) / F.col("f")).alias("closeness"))
            .orderBy(F.col("closeness").desc(), "id")
            .limit(k)
            .collect()
        )
        kth = top[-1]["closeness"] if len(top) >= k else 0.0
        if pool_size >= n:
            break
        best_out = (
            deg.join(
                F.broadcast(cands.select("id")), "id", "left_anti"
            )
            .agg(F.max("deg").alias("d"))
            .collect()[0]["d"]
        )
        bound = float(n - 1) / (2.0 * (n - 1) - float(best_out or 0))
        if bound <= kth + 1e-12:
            break
        pool_size = min(pool_size * 2, n)
    # round via Spark semantics (shortest-repr decimal), matching the
    # engine-wide 6dp convention and the DuckDB twins
    return spark.createDataFrame(
        [(int(r["id"]), float(r["closeness"])) for r in top],
        "id BIGINT, closeness DOUBLE",
    ).select("id", F.round("closeness", 6).alias("closeness"))


def approx_spanning_edge(
    eu: DataFrame,
    eps: float = 0.1,
    seed: int = 5,
    max_nodes: int = 100_000,
    max_samples: int = 500,
) -> DataFrame:
    """ApproxSpanningEdge (reference
    ``centrality/ApproxSpanningEdge.cpp:40``): spanning-edge centrality
    by uniform-spanning-tree sampling — score(e) = fraction of sampled
    USTs containing e, within ±ε of the true effective resistance with
    probability 1−1/n. Sample count = ceil(ln(2m·n)/(2ε²)) (cpp:130 with
    δ=1/n), capped at ``max_samples`` for the test harness.

    Spark shape: each UST is Wilson's loop-erased random walk — an
    inherently sequential O(n·cover) local computation — so trees are
    the unit of parallelism: one Arrow-batched ``mapInPandas`` over the
    sample ids, each task growing its trees against a broadcast
    adjacency (guarded at ``max_nodes``; the solver-path
    ``numerics.spanning_edge_centrality`` is the big-graph alternative).
    The aggregation is one groupBy over emitted tree edges.
    → (u, v, ust_score) 6dp, canonical u<v."""
    import math as _math

    spark = eu.sparkSession
    c = checkpoint(
        eu.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    n = (
        c.select(F.col("u").alias("id")).union(c.select(F.col("v").alias("id")))
        .distinct()
        .count()
    )
    m = c.count()
    if n == 0 or m == 0:
        return spark.createDataFrame([], "u BIGINT, v BIGINT, ust_score DOUBLE")
    if n > max_nodes:
        raise ValueError(
            f"approx_spanning_edge: {n} nodes > max_nodes={max_nodes}; "
            "use numerics.spanning_edge_centrality (solver path) instead"
        )
    n_samples = min(
        int(_math.ceil(_math.log(2.0 * m * n) / (2.0 * eps * eps))), max_samples
    )
    adj: dict[int, list[int]] = {}
    for r in c.collect():
        adj.setdefault(int(r["u"]), []).append(int(r["v"]))
        adj.setdefault(int(r["v"]), []).append(int(r["u"]))
    for vs in adj.values():
        vs.sort()
    root = min(adj)
    # connectivity guard BEFORE broadcasting: a Wilson walk started in a
    # component that does not contain the root can never hit the tree, so
    # on disconnected input the executor task would spin forever (a hang,
    # not an error). USTs are only defined on connected graphs anyway
    # (reference ApproxSpanningEdge.cpp assumes connectivity).
    seen = {root}
    frontier = [root]
    while frontier:
        nxt = []
        for x in frontier:
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    nxt.append(y)
        frontier = nxt
    if len(seen) != len(adj):
        raise ValueError(
            f"approx_spanning_edge requires a connected graph: only "
            f"{len(seen)} of {len(adj)} nodes reachable from {root}"
        )
    badj = spark.sparkContext.broadcast(adj)

    def sample_trees(batches):
        import numpy as np
        import pandas as pd

        a = badj.value
        rt = root
        for pdf in batches:
            out_u, out_v = [], []
            for t in pdf["tid"]:
                rng = np.random.default_rng(seed * 1_000_003 + int(t))
                in_tree = {rt}
                parent: dict[int, int] = {}
                for start in sorted(a):
                    if start in in_tree:
                        continue
                    # Wilson walk with loop erasure via parent overwrite
                    cur = start
                    while cur not in in_tree:
                        nxt = a[cur][rng.integers(0, len(a[cur]))]
                        parent[cur] = nxt
                        cur = nxt
                    cur = start
                    while cur not in in_tree:
                        in_tree.add(cur)
                        cur = parent[cur]
                for x, p in parent.items():
                    if x in in_tree and parent.get(x) == p:
                        out_u.append(min(x, p))
                        out_v.append(max(x, p))
            yield pd.DataFrame({"u": out_u, "v": out_v})

    trees = (
        spark.range(n_samples)
        .select(F.col("id").alias("tid"))
        .repartition(min(n_samples, 32))
        .mapInPandas(sample_trees, "u LONG, v LONG")
    )
    counts = trees.groupBy("u", "v").agg(F.count(F.lit(1)).alias("cnt"))
    return c.join(counts, ["u", "v"], "left").select(
        "u",
        "v",
        F.round(
            F.coalesce("cnt", F.lit(0)).cast("double") / float(n_samples), 6
        ).alias("ust_score"),
    )
