"""Community detection part 3: CutClustering, ParallelAgglomerative-
Clusterer, LPDegreeOrdered, OverlappingNMIDistance, sampled Rand
measures, DynamicNMI, ModularityScoring.

Parity targets (reference):
- community/CutClustering.cpp:18-80 (Flake-Tarjan: sink-augmented
  min-cut per uncovered node, source side = cluster),
- community/ParallelAgglomerativeClusterer.cpp:21-90 (score → match →
  coarsen loop, then project through the hierarchy),
- community/LPDegreeOrdered.cpp:18-90 (label propagation, nodes
  processed in increasing-degree order),
- community/OverlappingNMIDistance.cpp:10-260 (McDaid-Greene-Hurley
  overlapping NMI, MAX normalization default),
- community/SampledNodeStructuralRandMeasure.hpp:21 /
  SampledGraphStructuralRandMeasure.hpp:21,
- community/DynamicNMIDistance.hpp:23 (NMI over nodes present in both),
- scoring/ModularityScoring.hpp:60-90 (Δmod edge score).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


# ---------------------------------------------------------------- scoring


def modularity_scoring(edges_weighted_undirected: DataFrame) -> DataFrame:
    """Δmod(u,v) = 2·(w(u,v)/2ω − (wdeg(u)/2ω)·(wdeg(v)/2ω)): the
    modularity gain of merging u's and v's singleton clusters
    (reference scoring/ModularityScoring.hpp:60-90). Input symmetric
    (src, dst, weight); → (src, dst, score) per directed arc."""
    e = edges_weighted_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    wdeg = e.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("wdeg"))
    vol = e.agg(F.sum("weight").alias("vol"))  # = 2ω on a symmetric table
    return (
        e.join(wdeg.select(F.col("id").alias("src"), F.col("wdeg").alias("du")), "src")
        .join(wdeg.select(F.col("id").alias("dst"), F.col("wdeg").alias("dv")), "dst")
        .crossJoin(F.broadcast(vol))
        .select(
            "src",
            "dst",
            (
                F.lit(2.0)
                * (
                    F.col("weight") / F.col("vol")
                    - (F.col("du") / F.col("vol")) * (F.col("dv") / F.col("vol"))
                )
            ).alias("score"),
        )
    )


# ------------------------------------------------------- cut clustering


def cut_clustering(
    edges_weighted_undirected: DataFrame,
    alpha: float,
    max_nodes: int = 300,
    max_augmentations: int = 400,
) -> DataFrame:
    """Flake-Tarjan cut clustering (reference
    community/CutClustering.cpp:18-80): augment with an artificial sink t
    connected to every node with weight α; for each node u (descending
    degree) not yet clustered, the source side of the u→t min cut becomes
    u's cluster. Source sides are nested, so later cuts never split an
    existing cluster.

    The per-node min-cut sequence is inherently sequential (each cut's
    result prunes later work), and the instance is tiny BY CONTRACT
    (size-guarded at ``max_nodes``) — so the guarded subgraph is
    collected once and the O(n) nested cuts run driver-side; launching a
    multi-round distributed max-flow per 60-node cut would pay ~100
    Spark-job latencies for microseconds of arithmetic. The scale path
    is decomposition: run per connected component / per coarsened
    supernode, each guarded instance independent. → (id, subset)."""
    e = edges_weighted_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    spark = e.sparkSession
    # guard BEFORE collecting: a distributed count is cheap, while
    # collecting an oversized edge list would OOM the driver instead of
    # raising the documented error (same shape as path_growing_matcher).
    n_nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    if n_nodes > max_nodes:
        raise ValueError(
            f"cut_clustering is size-guarded at {max_nodes} nodes "
            f"(got {n_nodes}); run per-component or coarsen first"
        )
    rows = e.select("src", "dst", F.col("weight").cast("double")).collect()
    adj: dict[int, dict[int, float]] = {}
    for r in rows:
        u, v, w = int(r[0]), int(r[1]), float(r[2])
        adj.setdefault(u, {})[v] = adj.setdefault(u, {}).get(v, 0.0) + w
        adj.setdefault(v, {})
    nodes = sorted(adj)
    t = (max(nodes) + 1) if nodes else 0
    for u in nodes:
        adj[u][t] = alpha
    adj[t] = {u: alpha for u in nodes}

    def min_cut_source_side(s: int) -> set[int]:
        # Edmonds-Karp on a residual copy; returns s's side of the cut.
        res = {u: dict(nb) for u, nb in adj.items()}
        for _ in range(max_augmentations):
            parent = {s: s}
            queue = [s]
            while queue and t not in parent:
                u = queue.pop(0)
                for v, c in res[u].items():
                    if c > 1e-12 and v not in parent:
                        parent[v] = u
                        queue.append(v)
            if t not in parent:
                return set(parent)
            # trace s→t path, push bottleneck
            path = [t]
            while path[-1] != s:
                path.append(parent[path[-1]])
            path.reverse()
            bottleneck = min(
                res[path[i]][path[i + 1]] for i in range(len(path) - 1)
            )
            for i in range(len(path) - 1):
                u, v = path[i], path[i + 1]
                res[u][v] -= bottleneck
                res[v][u] = res[v].get(u, 0.0) + bottleneck
        # saturation fallback: reachable set in the residual graph
        parent = {s: s}
        queue = [s]
        while queue:
            u = queue.pop(0)
            for v, c in res[u].items():
                if c > 1e-12 and v not in parent:
                    parent[v] = u
                    queue.append(v)
        return set(parent)

    label: dict[int, int] = {}
    deg = {u: len(nb) - 1 for u, nb in adj.items() if u != t}
    # descending degree heuristically minimizes the number of cuts
    for u in sorted(nodes, key=lambda x: (-deg[x], x)):
        if u in label:
            continue
        for v in min_cut_source_side(u):
            if v != t:
                label[v] = u
    return spark.createDataFrame(
        sorted(label.items()), "id BIGINT, subset BIGINT"
    )


# ----------------------------------------------- parallel agglomerative


def _coarsen_with_mapping(e: DataFrame, matching: DataFrame):
    """Contract matched pairs (super = min id); returns (coarse_edges,
    mapping (id, super)). Same contraction as matching_coarsening
    (coarsening/MatchingCoarsening.hpp:21) but keeps the mapping for
    hierarchy projection."""
    m = matching.select(
        F.col("u").alias("id"), F.least("u", "v").alias("super")
    ).union(matching.select(F.col("v").alias("id"), F.least("u", "v").alias("super")))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    mapping = checkpoint(nodes.join(m, "id", "left").select(
        "id", F.coalesce("super", F.col("id")).alias("super")
    ))
    coarse = checkpoint(
        e.join(mapping.select(F.col("id").alias("src"), F.col("super").alias("csrc")), "src")
        .join(mapping.select(F.col("id").alias("dst"), F.col("super").alias("cdst")), "dst")
        .where(F.col("csrc") != F.col("cdst"))
        .groupBy(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )
    return coarse, mapping


def parallel_agglomerative(
    edges_weighted_undirected: DataFrame,
    max_levels: int = 6,
    rel_repeat_threshold: float = 5e-3,
    match_rounds: int = 40,
) -> DataFrame:
    """ParallelAgglomerativeClusterer (reference
    community/ParallelAgglomerativeClusterer.cpp:21-90): per level, score
    edges by Δmodularity, match on the positive-score subgraph (local-max
    matching stands in for the reference's PathGrowing — same ½-approx
    class, SURVEY §7), contract the matching, repeat while the graph
    keeps shrinking; final coarse nodes are the communities, projected
    back through the mapping hierarchy. → (id, subset).

    Every stage is a DataFrame op (score join, matching rounds, contract
    groupBy) — the loop count is O(log n) levels."""
    e = edges_weighted_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    e = checkpoint(e)
    from icebug_spark.operators.matching import local_max_matching

    mappings: list[DataFrame] = []
    for _lvl in range(max_levels):
        n = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
            .count()
        )
        if n <= 2:
            break
        scored = modularity_scoring(e).where(F.col("score") > 0)
        if scored.limit(1).isEmpty():
            break
        # match_rounds bounds the local-max rounds per level: the driver
        # loop is job-bound, and a partial (non-maximal) matching still
        # agglomerates correctly - it only shifts work to the next level.
        m = local_max_matching(
            scored.select("src", "dst", F.col("score").alias("weight")),
            max_rounds=match_rounds,
        )
        if m.limit(1).isEmpty():
            break
        coarse, mapping = _coarsen_with_mapping(e, m)
        n_matched = m.count()
        mappings.append(mapping)
        e = coarse
        if n_matched < rel_repeat_threshold * n:
            break

    # project: compose the mappings top-down (finest first)
    if not mappings:
        nodes = (
            edges_weighted_undirected.select(F.col("src").alias("id"))
            .union(edges_weighted_undirected.select(F.col("dst").alias("id")))
            .distinct()
        )
        return nodes.select("id", F.col("id").alias("subset"))
    acc = mappings[0]
    for mp in mappings[1:]:
        acc = acc.join(
            mp.select(F.col("id").alias("super"), F.col("super").alias("super2")),
            "super",
        ).select("id", F.col("super2").alias("super"))
        acc = checkpoint(acc)
    return acc.select("id", F.col("super").alias("subset"))


# ------------------------------------------------------ LPDegreeOrdered


def lp_degree_ordered(
    edges_undirected: DataFrame,
    max_iter: int = 12,
    degree_buckets: int = 4,
) -> DataFrame:
    """LPDegreeOrdered (reference community/LPDegreeOrdered.cpp:18-90):
    label propagation where nodes adopt their neighborhood's dominant
    label in INCREASING degree order, so low-degree nodes settle first
    and hubs see already-updated labels.

    Spark shape: the reference's sequential degree-ordered sweep becomes
    ``degree_buckets`` sub-rounds per iteration — quantile degree buckets
    update one at a time (lowest first) against the freshest labels; the
    update within a bucket is synchronous (documented divergence: ties
    inside one bucket, broken by smallest label as the reference's
    max_element also resolves deterministically). → (id, subset)."""
    eu = checkpoint(edges_undirected.select("src", "dst"))
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    qs = [i / degree_buckets for i in range(1, degree_buckets)]
    cuts = deg.approxQuantile("deg", qs, 0.001) if qs else []
    bucket = F.lit(0)
    for bi, c in enumerate(cuts):
        bucket = F.when(F.col("deg") > c, bi + 1).otherwise(bucket)
    nodes = checkpoint(deg.select("id", "deg", bucket.alias("bucket")))

    lbl = checkpoint(nodes.select("id", F.col("id").alias("lbl"), "bucket"))
    for _it in range(max_iter):
        changed_total = 0
        for b in range(degree_buckets):
            nb_counts = (
                eu.join(
                    lbl.select(F.col("id").alias("dst"), F.col("lbl").alias("nlbl")),
                    "dst",
                )
                .groupBy(F.col("src").alias("id"), "nlbl")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            # argmax via grouped min-struct ((-cnt, nlbl) ordering IS the
            # (count desc, label asc) tie-break; (id, nlbl) unique after
            # the groupBy) — drops the per-round window SORT
            dominant = (
                nb_counts.groupBy("id")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("cnt")).alias("nc"),
                            F.col("nlbl").alias("nlbl"),
                        )
                    ).alias("sel")
                )
                .select("id", F.col("sel.nlbl").alias("new_lbl"))
            )
            upd = checkpoint(
                lbl.join(dominant, "id", "left")
                .select(
                    "id",
                    F.when(
                        (F.col("bucket") == b) & F.col("new_lbl").isNotNull(),
                        F.col("new_lbl"),
                    )
                    .otherwise(F.col("lbl"))
                    .alias("lbl"),
                    "bucket",
                    (
                        (F.col("bucket") == b)
                        & F.col("new_lbl").isNotNull()
                        & (F.col("new_lbl") != F.col("lbl"))
                    ).cast("int").alias("chg"),
                )
            )
            changed_total += upd.agg(F.sum("chg")).collect()[0][0] or 0
            lbl = upd.select("id", "lbl", "bucket")
        if changed_total == 0:
            break
    return lbl.select("id", F.col("lbl").alias("subset"))


# ------------------------------------------------- overlapping NMI


def overlapping_nmi_distance(
    cover_x: DataFrame,
    cover_y: DataFrame,
    n: int,
    normalization: str = "max",
) -> DataFrame:
    """McDaid-Greene-Hurley overlapping NMI distance (reference
    community/OverlappingNMIDistance.cpp:10-260, default MAX
    normalization): 1 − MI/norm(H(X),H(Y)) with per-cluster best-match
    adjusted conditional entropies. Inputs are covers (id, subset) — a
    node may appear in several subsets; ``n`` = graph node count.

    Fully distributed: cluster sizes and intersections are groupBy
    aggregates; the (i,j) conditional-entropy table is one join; the
    final H/MI reductions are scalar aggregates. → 1 row
    (onmi_distance DOUBLE 6dp)."""
    spark = cover_x.sparkSession

    sx = checkpoint(cover_x.groupBy(F.col("subset").alias("i")).agg(
        F.count(F.lit(1)).alias("xi")
    ))
    sy = checkpoint(cover_y.groupBy(F.col("subset").alias("j")).agg(
        F.count(F.lit(1)).alias("yj")
    ))
    inter = checkpoint(
        cover_x.select("id", F.col("subset").alias("i"))
        .join(cover_y.select("id", F.col("subset").alias("j")), "id")
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("nij"))
    )

    x_empty = sx.limit(1).isEmpty()
    y_empty = sy.limit(1).isEmpty()
    if x_empty != y_empty:
        return spark.createDataFrame([(1.0,)], "onmi_distance DOUBLE")
    if x_empty and y_empty:
        return spark.createDataFrame([(0.0,)], "onmi_distance DOUBLE")

    def h(w):
        return F.when(w > 0, -w.cast("double") * F.log2(w.cast("double") / n)).otherwise(
            F.lit(0.0)
        )

    def ent(size):
        return h(size) + h(F.lit(n) - size)

    hx = sx.agg(F.sum(ent(F.col("xi"))).alias("v")).collect()[0][0] or 0.0
    hy = sy.agg(F.sum(ent(F.col("yj"))).alias("v")).collect()[0][0] or 0.0

    # adjusted H*(Xi|Yj) per intersecting pair (OverlappingNMIDistance.cpp:61-78)
    pairs = inter.join(sx, "i").join(sy, "j")
    a = F.lit(n) + F.col("nij") - F.col("xi") - F.col("yj")
    b = F.col("yj") - F.col("nij")
    c = F.col("xi") - F.col("nij")
    d = F.col("nij")
    h_joint = h(a) + h(b) + h(c) + h(d)
    adj_xy = F.when(
        h(a) + h(d) >= h(b) + h(c), h_joint - ent(F.col("yj"))
    ).otherwise(ent(F.col("xi")))
    adj_yx = F.when(
        h(a) + h(d) >= h(b) + h(c), h_joint - ent(F.col("xi"))
    ).otherwise(ent(F.col("yj")))
    pairs = pairs.select("i", "j", adj_xy.alias("adj_xy"), adj_yx.alias("adj_yx"))

    cond_x = (
        sx.join(pairs.groupBy("i").agg(F.min("adj_xy").alias("m")), "i", "left")
        .select(F.least(F.coalesce("m", ent(F.col("xi"))), ent(F.col("xi"))).alias("v"))
        .agg(F.sum("v"))
        .collect()[0][0]
        or 0.0
    )
    cond_y = (
        sy.join(pairs.groupBy("j").agg(F.min("adj_yx").alias("m")), "j", "left")
        .select(F.least(F.coalesce("m", ent(F.col("yj"))), ent(F.col("yj"))).alias("v"))
        .agg(F.sum("v"))
        .collect()[0][0]
        or 0.0
    )

    mi = 0.5 * (hx - cond_x + hy - cond_y)
    hx = max(hx, 0.0)
    hy = max(hy, 0.0)
    if hx == 0.0 and hy == 0.0:
        nmi = 1.0
    elif (hx == 0.0 or hy == 0.0) and normalization in ("min", "geometric_mean"):
        nmi = 0.0
    else:
        denom = {
            "min": min(hx, hy),
            "geometric_mean": math.sqrt(hx * hy),
            "arithmetic_mean": 0.5 * (hx + hy),
            "max": max(hx, hy),
            "joint_entropy": hx + hy - mi,
        }[normalization]
        nmi = mi / denom if denom else 0.0
    nmi = min(max(nmi, 0.0), 1.0)
    return spark.createDataFrame(
        [(round(1.0 - nmi, 6),)], "onmi_distance DOUBLE"
    )


# ----------------------------------------- sampled + dynamic measures


def node_structural_rand_sampled(
    pa: DataFrame, pb: DataFrame, max_samples: int = 1000, seed: int = 17
) -> DataFrame:
    """SampledNodeStructuralRandMeasure (reference .hpp:21): Rand
    DISTANCE estimated on a deterministic pseudo-random sample of node
    pairs. → 1 row (rand_distance DOUBLE 6dp)."""
    # checkpoint BEFORE the exact-regime count so the guard doesn't
    # re-run the pa⋈pb join lineage once extra per call
    joined = checkpoint(pa.select("id", F.col("subset").alias("sa")).join(
        pb.select("id", F.col("subset").alias("sb")), "id"
    ))
    k = int(math.isqrt(max_samples * 2)) + 2  # k*(k-1)/2 >= max_samples
    # distributed TakeOrdered top-k — not a global row_number window
    # (which single-tasks the whole node set); same sampled set. In the
    # exact regime (k covers every node) skip the top-k entirely: a
    # GlobalLimit sized past the input would buffer the whole set in one
    # TakeOrdered heap.
    if k >= joined.count():
        sample = joined
    else:
        sample = checkpoint(
            joined.withColumn("h", F.xxhash64(F.lit(seed), "id"))
            .orderBy("h", "id")
            .limit(k)
        )
    l = sample.select(
        F.col("id").alias("u"), F.col("sa").alias("sau"), F.col("sb").alias("sbu")
    )
    r = sample.select(
        F.col("id").alias("v"), F.col("sa").alias("sav"), F.col("sb").alias("sbv")
    )
    pairs = l.join(r, l.u < r.v)
    return pairs.agg(
        F.round(
            1.0
            - F.avg(
                (
                    (F.col("sau") == F.col("sav")) == (F.col("sbu") == F.col("sbv"))
                ).cast("double")
            ),
            6,
        ).alias("rand_distance")
    )


def graph_structural_rand_sampled(
    edges_undirected: DataFrame,
    pa: DataFrame,
    pb: DataFrame,
    max_samples: int = 1000,
    seed: int = 17,
) -> DataFrame:
    """SampledGraphStructuralRandMeasure (reference .hpp:21): Rand
    distance over a sample of CONNECTED node pairs (edges). → 1 row
    (rand_distance DOUBLE 6dp)."""
    # checkpoint BEFORE the exact-regime count so the guard doesn't
    # re-run whatever lineage produced edges_undirected once extra
    e = checkpoint(edges_undirected.where(F.col("src") < F.col("dst")))
    # distributed TakeOrdered top-k over the EDGE set — the old global
    # row_number window single-tasked every edge at 1e12-edge scale. In
    # the exact regime (max_samples >= |edges|) skip the top-k: a
    # GlobalLimit sized past the input makes TakeOrdered buffer the whole
    # edge set (a max_samples-entry bounded heap) in ONE task — the exact
    # OOM this rewrite was meant to remove.
    if max_samples >= e.count():
        sample = e
    else:
        sample = (
            e.withColumn("h", F.xxhash64(F.lit(seed), "src", "dst"))
            .orderBy("h", "src", "dst")
            .limit(max_samples)
        )
    j = (
        sample.join(pa.select(F.col("id").alias("src"), F.col("subset").alias("sau")), "src")
        .join(pa.select(F.col("id").alias("dst"), F.col("subset").alias("sav")), "dst")
        .join(pb.select(F.col("id").alias("src"), F.col("subset").alias("sbu")), "src")
        .join(pb.select(F.col("id").alias("dst"), F.col("subset").alias("sbv")), "dst")
    )
    return j.agg(
        F.round(
            1.0
            - F.avg(
                (
                    (F.col("sau") == F.col("sav")) == (F.col("sbu") == F.col("sbv"))
                ).cast("double")
            ),
            6,
        ).alias("rand_distance")
    )


def dynamic_nmi(pa: DataFrame, pb: DataFrame) -> DataFrame:
    """DynamicNMIDistance (reference community/DynamicNMIDistance.hpp:23):
    NMI distance between an old and a new partition of a DYNAMIC graph —
    computed only over nodes present in BOTH partitions (new/deleted
    nodes are ignored). → 1 row (nmi_distance DOUBLE 6dp)."""
    from icebug_spark.operators.community import nmi

    common = pa.select("id").join(pb.select("id"), "id", "leftsemi")
    pa2 = pa.join(common, "id", "leftsemi")
    pb2 = pb.join(common, "id", "leftsemi")
    return nmi(pa2, pb2).select(
        F.round(1.0 - F.col("nmi"), 6).alias("nmi_distance")
    )


def jaccard_measure(pa: DataFrame, pb: DataFrame) -> DataFrame:
    """JaccardMeasure (reference ``community/JaccardMeasure.cpp:14``):
    pair-counting Jaccard DISSIMILARITY of two partitions. With
    s11 = Σ_I C(|I|,2) over the partition-intersection classes,
    sumZeta/sumEta the same over each input partition, and
    s00 = n(n-1)/2 + s11 − sumZeta − sumEta the both-disagree pairs,
    the reference returns 1 − 2·s11 / (n(n−1) − 2·s00) (0 when the
    divisor vanishes). One contingency shuffle, three aggregates —
    intersection classes ARE the contingency cells, so no explicit
    PartitionIntersection materialization is needed. → 1 row
    (jaccard_distance DOUBLE, 6dp)."""
    from icebug_spark.operators.community import pair_count_sums

    # All four scalars ride community.pair_count_sums' single tagged-union
    # aggregation job (the old shape here was a checkpoint + four
    # sequential collects — 5 Spark jobs for one tiny table).
    n, s11, s_zeta, s_eta = pair_count_sums(pa, pb)
    s00 = n * (n - 1) / 2 + s11 - (s_zeta + s_eta)
    divisor = n * (n - 1) - 2.0 * s00
    jaccard = 1.0 - (2.0 * s11) / divisor if divisor > 0 else 0.0
    spark = pa.sparkSession
    return spark.createDataFrame([(round(jaccard, 6),)], ["jaccard_distance"])
