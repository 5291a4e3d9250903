"""Link prediction part 2: remaining indices, candidate generation,
train/test sampling, and threshold-sweep evaluation metrics.

Parity targets (reference ``linkprediction/``):
- ResourceAllocationIndex.cpp — sum over common neighbors z of 1/deg(z);
- TotalNeighborsIndex (hpp) — |N(u) ∪ N(v)|;
- NeighborhoodDistanceIndex.hpp:30-34 — |CN| / sqrt(deg(u)*deg(v));
- NeighborsMeasureIndex.hpp:29-39 (friends measure) — #pairs (x∈N(u),
  y∈N(v)) with x==y or (x,y)∈E;
- AdjustedRandIndex.cpp:14-42 — 2(ad-bc)/(ab+ac+2ad+b²+bd+c²+cd) with
  a=|CN|, b=|N(u)\\N(v)|, c=|N(v)\\N(u)|, d=n-|N(u)∪N(v)| (note: the
  reference builds b and c with std::set_union — a copy-paste slip making
  b=c=|union|; we implement the published ARI definition with true set
  differences and document the divergence);
- UDegreeIndex.hpp:20 / VDegreeIndex.hpp:20 — endpoint degrees;
- SameCommunityIndex.hpp:21 — indicator from a partition;
- KatzIndex.cpp (runImpl loop + calcDampingFactors) — sum over path
  lengths l<=L of beta^l * #paths_l(u,v);
- MissingLinksFinder.hpp:26 — 2-hop candidate pairs minus existing edges;
- RandomLinkSampler — seeded edge holdout split;
- ROCMetric.hpp:23 / PrecisionRecallMetric.hpp:23 over
  EvaluationMetric.hpp:23 — threshold sweep = one global sort + running
  TP/FP window, not a per-threshold loop.

Input convention matches linkpred.py: ``adj`` = symmetrized (node, nbr)
adjacency, one row per directed arc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.linkpred import _neighbor_pairs, common_neighbors
from icebug_spark.plans.iterate import checkpoint


def _deg(adj: DataFrame) -> DataFrame:
    return adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))


def resource_allocation(adj: DataFrame, pair_filter=None) -> DataFrame:
    """(u, v, resource_alloc) = sum over shared neighbors n of 1/deg(n),
    rounded 6dp."""
    deg = adj.groupBy(F.col("nbr").alias("n")).agg(F.count(F.lit(1)).alias("dn"))
    return (
        _neighbor_pairs(adj, pair_filter)
        .join(deg, "n")
        .groupBy("u", "v")
        .agg(F.round(F.sum(F.lit(1.0) / F.col("dn").cast("double")), 6).alias("resource_alloc"))
    )


def total_neighbors(adj: DataFrame, pair_filter=None) -> DataFrame:
    """(u, v, total_neighbors) = |N(u) ∪ N(v)| = deg(u)+deg(v)-|CN|."""
    deg = _deg(adj)
    cn = common_neighbors(adj, pair_filter)
    return (
        cn.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            (F.col("du") + F.col("dv") - F.col("common_neighbors")).alias("total_neighbors"),
        )
    )


def neighborhood_distance(adj: DataFrame, pair_filter=None) -> DataFrame:
    """(u, v, nd_index) = |CN| / sqrt(deg(u)*deg(v)), rounded 6dp."""
    deg = _deg(adj)
    cn = common_neighbors(adj, pair_filter)
    return (
        cn.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            F.round(
                F.col("common_neighbors").cast("double")
                / F.sqrt((F.col("du") * F.col("dv")).cast("double")),
                6,
            ).alias("nd_index"),
        )
    )


def neighbors_measure(adj: DataFrame, pair_filter=None) -> DataFrame:
    """Friends measure: for pair (u,v), count pairs (x ∈ N(u), y ∈ N(v))
    with x == y or (x,y) an edge. Decomposed as |CN| + #cross-neighborhood
    edges, each a join — never a quadratic nested loop."""
    cn = common_neighbors(adj, pair_filter).select(
        "u", "v", F.col("common_neighbors").alias("s")
    )
    # cross-neighborhood edges: drive from the arc list — for each arc
    # (x,y), fan out to u ∈ N(x) and v ∈ N(y). Two equi-joins; the cost is
    # the output size Σ_(x,y) deg(x)·deg(y), never a cross product.
    arcs = adj.select(F.col("node").alias("x"), F.col("nbr").alias("y"))
    nu = adj.select(F.col("nbr").alias("x"), F.col("node").alias("u"))
    nv = adj.select(F.col("nbr").alias("y"), F.col("node").alias("v"))
    if pair_filter is not None:
        nu = nu.where(pair_filter(F.col("u")))
        nv = nv.where(pair_filter(F.col("v")))
    cross = (
        arcs.join(nu, "x")
        .join(nv, "y")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("s"))
    )
    return (
        cn.union(cross)
        .groupBy("u", "v")
        .agg(F.sum("s").alias("neighbors_measure"))
    )


def adjusted_rand_index(adj: DataFrame, pair_filter=None) -> DataFrame:
    """ARI over neighborhoods: a=|CN|, b=|N(u)\\N(v)|, c=|N(v)\\N(u)|,
    d=n-|N(u)∪N(v)|; 2(ad-bc)/(ab+ac+2ad+b²+bd+c²+cd), 0 when the
    denominator vanishes. Rounded 6dp. (The reference's set_union slip is
    documented in the module docstring; we follow the published formula.)"""
    deg = _deg(adj)
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    cn = common_neighbors(adj, pair_filter)
    a = F.col("common_neighbors").cast("double")
    b = (F.col("du") - F.col("common_neighbors")).cast("double")
    c = (F.col("dv") - F.col("common_neighbors")).cast("double")
    d = (F.col("n") - (F.col("du") + F.col("dv") - F.col("common_neighbors"))).cast("double")
    denom = a * b + a * c + 2 * a * d + b * b + b * d + c * c + c * d
    return (
        cn.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
        .crossJoin(F.broadcast(n_nodes))
        .select(
            "u",
            "v",
            F.round(
                F.when(denom != 0, 2 * (a * d - b * c) / denom).otherwise(F.lit(0.0)), 6
            ).alias("ari_index"),
        )
    )


def endpoint_degrees(adj: DataFrame, pairs: DataFrame) -> DataFrame:
    """UDegreeIndex / VDegreeIndex for an explicit pair list (u, v)."""
    deg = _deg(adj)
    return (
        pairs.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("u_degree")), "u", "left")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("v_degree")), "v", "left")
        .select(
            "u",
            "v",
            F.coalesce("u_degree", F.lit(0)).alias("u_degree"),
            F.coalesce("v_degree", F.lit(0)).alias("v_degree"),
        )
    )


def same_community(pairs: DataFrame, partition: DataFrame) -> DataFrame:
    """SameCommunityIndex: 1 when both endpoints share a subset, else 0.
    partition = (id, subset)."""
    return (
        pairs.join(partition.select(F.col("id").alias("u"), F.col("subset").alias("cu")), "u", "left")
        .join(partition.select(F.col("id").alias("v"), F.col("subset").alias("cv")), "v", "left")
        .select(
            "u",
            "v",
            F.when(
                F.col("cu").isNotNull() & (F.col("cu") == F.col("cv")), F.lit(1)
            ).otherwise(F.lit(0)).alias("same_community"),
        )
    )


def katz_index_from(
    adj: DataFrame,
    sources: list[int],
    max_path_length: int = 5,
    beta: float = 0.005,
) -> DataFrame:
    """KatzIndex for the given source nodes against all reachable targets:
    score(u,v) = sum_{l=1..L} beta^l * #walks of length l from u to v.

    Walk counts propagate as a multi-source frontier with a count column —
    l sparse MxV rounds (join + groupBy), the Spark shape of the
    reference's per-source BFS accumulation (KatzIndex.cpp runImpl).
    Counts are exact BIGINTs; the damped sum rounds to 8dp."""
    spark = adj.sparkSession
    frontier = spark.createDataFrame(
        [(s, s, 1) for s in sources], "src BIGINT, node BIGINT, paths BIGINT"
    )
    total = None
    for l in range(1, max_path_length + 1):
        frontier = checkpoint(
            frontier.join(adj, "node")
            .groupBy("src", F.col("nbr").alias("node"))
            .agg(F.sum("paths").alias("paths"))
        )
        contrib = frontier.select("src", "node", F.lit(l).alias("l"), "paths")
        total = contrib if total is None else total.union(contrib)
    # pivot exact integer path counts per level, then ONE fixed-order damped
    # sum — float summation order is engine-dependent, integer counts are not,
    # so this is what makes the score hash-match a SQL oracle.
    agg = [
        F.sum(F.when(F.col("l") == l, F.col("paths"))).alias(f"p{l}")
        for l in range(1, max_path_length + 1)
    ]
    piv = total.groupBy(F.col("src").alias("u"), F.col("node").alias("v")).agg(*agg)
    score = None
    for l in range(1, max_path_length + 1):
        term = F.lit(float(beta) ** l) * F.coalesce(F.col(f"p{l}"), F.lit(0)).cast("double")
        score = term if score is None else score + term
    return piv.select("u", "v", F.round(score, 8).alias("katz_score")).where(
        F.col("u") != F.col("v")
    )


def missing_links(adj: DataFrame, of_nodes: DataFrame | None = None) -> DataFrame:
    """MissingLinksFinder: candidate pairs u<v at exactly distance 2
    (share a neighbor, no direct edge)."""
    pf = None
    if of_nodes is not None:
        keys = {r[0] for r in of_nodes.collect()}
        pf = lambda col: col.isin(*keys) if keys else F.lit(False)  # noqa: E731
    pairs = _neighbor_pairs(adj, pf).select("u", "v").distinct()
    direct = adj.select(
        F.least("node", "nbr").alias("u"), F.greatest("node", "nbr").alias("v")
    ).distinct()
    return pairs.join(direct, ["u", "v"], "left_anti")


def random_link_split(
    edges_undirected: DataFrame, holdout_fraction: float, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """RandomLinkSampler: deterministic hash split of the canonical edge
    set into (train, test) with ~holdout_fraction of edges held out."""
    e = edges_undirected.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    h = F.pmod(F.xxhash64("u", "v", F.lit(seed)), F.lit(1_000_000))
    test = e.where(h < int(holdout_fraction * 1_000_000))
    train = e.where(h >= int(holdout_fraction * 1_000_000))
    return train, test


def roc_points(predictions: DataFrame, truth: DataFrame, score_col: str) -> DataFrame:
    """ROCMetric: (fpr, tpr) at every score threshold. predictions =
    (u, v, score); truth = positive pairs (u, v). Per-threshold partial
    aggregation + a distributed prefix sum over the (far smaller)
    threshold table — the old per-row running window funneled EVERY
    prediction through one task."""
    from icebug_spark.plans.zipindex import running_sums

    labeled = predictions.join(
        truth.select("u", "v", F.lit(1).alias("pos")), ["u", "v"], "left"
    ).select("u", "v", F.col(score_col).alias("s"), F.coalesce("pos", F.lit(0)).alias("pos"))
    totals = labeled.agg(
        F.sum("pos").alias("p"), F.sum(1 - F.col("pos")).alias("n")
    )
    per_s = labeled.groupBy("s").agg(
        F.sum("pos").alias("tp"), F.sum(1 - F.col("pos")).alias("fp")
    )
    pts = running_sums(per_s, ["s"], ["tp", "fp"], descending=True)
    return (
        pts.crossJoin(F.broadcast(totals))
        .select(
            F.round(F.col("fp").cast("double") / F.greatest("n", F.lit(1)).cast("double"), 6).alias("fpr"),
            F.round(F.col("tp").cast("double") / F.greatest("p", F.lit(1)).cast("double"), 6).alias("tpr"),
        )
        .distinct()
    )


def auc(predictions: DataFrame, truth: DataFrame, score_col: str) -> float:
    """Area under the ROC curve via trapezoid rule over roc_points
    (EvaluationMetric::getAreaUnderCurve). Collects only the curve points
    (#distinct thresholds rows), never the predictions."""
    pts = sorted(
        (r["fpr"], r["tpr"]) for r in roc_points(predictions, truth, score_col).collect()
    )
    pts = [(0.0, 0.0)] + pts + [(1.0, 1.0)]
    area = 0.0
    for (x0, y0), (x1, y1) in zip(pts[:-1], pts[1:]):
        area += (x1 - x0) * (y0 + y1) / 2.0
    return round(area, 6)


def precision_recall_points(
    predictions: DataFrame, truth: DataFrame, score_col: str
) -> DataFrame:
    """PrecisionRecallMetric: (recall, precision) per threshold, same
    per-threshold aggregation + distributed prefix sum as roc_points."""
    from icebug_spark.plans.zipindex import running_sums

    labeled = predictions.join(
        truth.select("u", "v", F.lit(1).alias("pos")), ["u", "v"], "left"
    ).select("u", "v", F.col(score_col).alias("s"), F.coalesce("pos", F.lit(0)).alias("pos"))
    totals = labeled.agg(F.sum("pos").alias("p"))
    per_s = labeled.groupBy("s").agg(
        F.sum("pos").alias("tp"), F.count(F.lit(1)).alias("k")
    )
    pts = running_sums(per_s, ["s"], ["tp", "k"], descending=True)
    return (
        pts.crossJoin(F.broadcast(totals))
        .select(
            F.round(F.col("tp").cast("double") / F.greatest("p", F.lit(1)).cast("double"), 6).alias("recall"),
            F.round(F.col("tp").cast("double") / F.col("k").cast("double"), 6).alias("precision"),
        )
        .distinct()
    )


def sort_predictions_by_score(
    predictions: DataFrame, score_col: str = "score"
) -> DataFrame:
    """PredictionsSorter::sortByScore (reference
    ``linkprediction/PredictionsSorter.hpp:30``): descending score, ties
    ascending by (u, v). Spark's orderBy is a range-partitioned sort —
    no single-partition stage."""
    return predictions.orderBy(F.col(score_col).desc(), "u", "v")


def sort_predictions_by_node_pair(predictions: DataFrame) -> DataFrame:
    """PredictionsSorter::sortByNodePair: ascending (u, v)."""
    return predictions.orderBy("u", "v")


def threshold_by_score(
    predictions: DataFrame, min_score: float, score_col: str = "score"
) -> DataFrame:
    """LinkThresholder::byScore (reference
    ``linkprediction/LinkThresholder.cpp:19``): node pairs with
    score >= min_score, returned sorted ascending by pair."""
    return (
        predictions.where(F.col(score_col) >= min_score)
        .select("u", "v")
        .orderBy("u", "v")
    )


def threshold_by_count(
    predictions: DataFrame, num_links: int, score_col: str = "score"
) -> DataFrame:
    """LinkThresholder::byCount (``LinkThresholder.cpp:38``): the
    num_links highest-scored pairs (score desc, ties ascending (u,v) —
    PredictionsSorter order), returned sorted ascending by pair.
    orderBy+limit plans as TakeOrderedAndProject (per-partition top-k +
    merge) — no full global sort materialization."""
    n = predictions.count()
    if num_links > n:
        raise ValueError(f"num_links {num_links} > predictions {n}")
    top = predictions.orderBy(F.col(score_col).desc(), "u", "v").limit(num_links)
    return top.select("u", "v").orderBy("u", "v")


def threshold_by_percentage(
    predictions: DataFrame, percentage: float, score_col: str = "score"
) -> DataFrame:
    """LinkThresholder::byPercentage (``LinkThresholder.cpp:55``): the
    top floor(percentage·count) pairs; percentage must be in [0, 1]."""
    if not 0.0 <= percentage <= 1.0:
        raise ValueError("percentage must be in [0, 1]")
    n = predictions.count()
    return threshold_by_count(predictions, int(percentage * n), score_col)


def algebraic_distance_index(
    edges_undirected: DataFrame,
    pairs: DataFrame,
    n_systems: int = 4,
    rounds: int = 5,
    omega: float = 0.5,
    norm: int = 2,
    seed: int = 42,
) -> DataFrame:
    """AlgebraicDistanceIndex (reference
    ``linkprediction/AlgebraicDistanceIndex.cpp:16``): score arbitrary
    node pairs by the p-norm (or max-norm for ``norm <= 0``, the
    reference's MAX_NORM) of the load-vector differences from the shared
    algebraic-distance iteration (``AlgebraicDistance`` and this index
    use the identical preprocess loop — reused via
    :func:`distances.algebraic_loads`). NaN → 0 like ``runImpl``.
    → (u, v, alg_score) 6dp."""
    from icebug_spark.operators.distances import algebraic_loads
    from icebug_spark.plans.iterate import mirror

    x, n = algebraic_loads(edges_undirected, n_systems, rounds, omega, seed)
    j = (
        pairs.select("u", "v")
        .join(mirror(x, n).withColumnRenamed("id", "u"), "u")
        .join(
            mirror(x, n).select(
                F.col("id").alias("v"),
                *[F.col(f"x{k}").alias(f"y{k}") for k in range(n_systems)],
            ),
            "v",
        )
    )
    diffs = [F.abs(F.col(f"x{k}") - F.col(f"y{k}")) for k in range(n_systems)]
    if norm <= 0:
        expr = F.greatest(*diffs) if len(diffs) > 1 else diffs[0]
    else:
        p = float(norm)
        expr = F.pow(
            sum((F.pow(d, p) for d in diffs), F.lit(0.0)), F.lit(1.0 / p)
        )
    score = F.coalesce(F.round(expr, 6), F.lit(0.0))
    return j.select("u", "v", score.alias("alg_score"))
