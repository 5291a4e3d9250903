"""Statistics + spectral utilities from the reference's Python surface
(the small modules outside the C++ tree):

- :func:`gini` — Gini coefficient of a value column
  (``networkit/stats.pyx:16``: sorted prefix-area formula).
- :func:`approx_avg_local_clustering` / :func:`clustering` — Schank-
  Wagner wedge-sampling estimate of the average local clustering
  coefficient (``networkit/globals.pyx:109`` wrapper;
  ``global/ClusteringCoefficient.cpp`` ``approxAvgLocal``: uniform
  deg≥2 node, two distinct random neighbors, closed-wedge fraction).
- :func:`ranked` — average rank with ties (``helpers.pyx:21``).
- :func:`measure_correlations` — the profiling correlation battery
  (``profiling/stat.py:418``: covariance, rank covariance, Pearson,
  Spearman over average ranks, Fechner).
- :func:`spectral_coloring` — recursive eigenvector-sign splitting
  (``networkit/coloring.py:6`` SpectralColoring: all nodes start in one
  class; an invalid class splits by the sign of the next adjacency
  eigenvector until every class is independent).

Scale notes: gini needs a global rank — expressed as one window sort +
one aggregation (at 100 TB swap the exact rank for an approx-quantile
bucketing). The wedge sampler is trial-parallel: ``spark.range(trials)``
hashed onto a dense-indexed deg≥2 node table, neighbor picks by
index arithmetic, closure by one join against the canonical edge set —
no driver loop, no rejection resampling. Spectral coloring mirrors the
reference's own driver-side dense eigendecomposition (it calls scipy
``eigh`` on the full adjacency) behind the same guarded-collect pattern
as the other small-n exact solvers; the guard names the distributed
alternative (greedy_coloring) for big graphs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint

_DENOM = 1_000_000_007


def _u01(*cols) -> F.Column:
    return F.pmod(F.xxhash64(*cols), F.lit(_DENOM)).cast("double") / _DENOM


def _value_cumcounts(values: DataFrame, col: str) -> DataFrame:
    """Per-DISTINCT-value tie counts plus the inclusive global running
    count, with no single-partition stage: one groupBy shuffle collapses
    the input to its distinct values, then :func:`zipindex.running_sums`
    (range-partition + P-row offset collect) accumulates across value
    order in parallel. → (x, _c, _cum) where ``_cum`` = #rows ≤ x."""
    from icebug_spark.plans.zipindex import running_sums

    counts = (
        values.select(F.col(col).cast("double").alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_cum", F.col("_c"))
    )
    return running_sums(counts, ["x"], ["_cum"])


def gini(values: DataFrame, col: str) -> DataFrame:
    """Gini coefficient (``stats.pyx:16``). The reference's prefix-area
    loop over the ascending sort equals the closed rank form
    G = 2·Σ rᵢxᵢ / (n·Σx) − (n+1)/n; Σrᵢxᵢ is invariant under permuting
    ranks within a tie group, so it collapses onto distinct values: a
    value x with c ties ending at inclusive running count ``cum``
    occupies ranks cum−c+1..cum, contributing x·c·(2·cum−c+1)/2. Two-pass
    rank (:func:`zipindex.running_sums` over the distinct-value table),
    no single-partition window. → single row (gini DOUBLE)."""
    cc = _value_cumcounts(values, col)
    n = F.sum("_c")
    rank_sum = F.sum(
        F.col("x") * F.col("_c") * (2.0 * F.col("_cum") - F.col("_c") + 1.0) / 2.0
    )
    return cc.agg(
        (
            2.0 * rank_sum / (n * F.sum(F.col("x") * F.col("_c")))
            - (n + 1.0) / n
        ).alias("gini")
    )


def ranked(values: DataFrame, col: str, out: str = "rank") -> DataFrame:
    """Average rank with ties (``helpers.pyx:21`` ``ranked``):
    ``out[i]`` is the 1-based rank of row i under ascending ``col``,
    tie groups sharing the MEAN of their positions — exactly the
    reference's two-pass sum/length loop. A tie group of size c ending
    at inclusive running count ``cum`` averages cum − (c−1)/2; the
    running count comes from :func:`zipindex.running_sums` over the
    DISTINCT-value table (tiny), joined back on the value — fully
    range-partitioned, no single-partition global window."""
    cc = _value_cumcounts(values, col).withColumn(
        out, F.col("_cum") - (F.col("_c") - 1) / 2.0
    )
    key = F.col(col).cast("double")
    return (
        values.withColumn("__x", key)
        .join(cc.select(F.col("x").alias("__x"), out), "__x", "left")
        .drop("__x")
    )


def measure_correlations(values: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """The reference profiling's per-measure-pair correlation battery
    (``profiling/stat.py:418`` ``Correlation.run``): population
    covariance, rank covariance (over :func:`ranked` average ranks),
    Pearson (covariance over UNCORRECTED std devs), Spearman (the same
    over ranks), and Fechner (mean sign of the deviation product,
    ``copysign`` semantics: a zero product counts +1). Two rank windows
    + two chained aggregates, one action. → single row
    (covariance, covariance_rank, pearson, spearman, fechner), 6dp."""
    v = values.select(
        F.col(col_a).cast("double").alias("a"),
        F.col(col_b).cast("double").alias("b"),
    )
    v = ranked(v, "a", "ra")
    v = ranked(v, "b", "rb")
    base = v.agg(
        F.avg("a").alias("ma"),
        F.avg("b").alias("mb"),
        F.stddev_pop("a").alias("sa"),
        F.stddev_pop("b").alias("sb"),
        F.stddev_pop("ra").alias("sra"),
        F.stddev_pop("rb").alias("srb"),
        F.covar_pop("a", "b").alias("cov"),
        F.covar_pop("ra", "rb").alias("cov_rank"),
    )
    fechner = (
        v.crossJoin(F.broadcast(base.select("ma", "mb")))
        .agg(
            F.avg(
                F.when((F.col("a") - F.col("ma")) * (F.col("b") - F.col("mb")) >= 0, 1.0)
                .otherwise(-1.0)
            ).alias("fechner")
        )
    )

    def _ratio(num, d1, d2):
        return F.when(
            (F.col(d1) * F.col(d2)) != 0.0, F.col(num) / (F.col(d1) * F.col(d2))
        )

    return base.crossJoin(F.broadcast(fechner)).select(
        F.round("cov", 6).alias("covariance"),
        F.round("cov_rank", 6).alias("covariance_rank"),
        F.round(_ratio("cov", "sa", "sb"), 6).alias("pearson"),
        F.round(_ratio("cov_rank", "sra", "srb"), 6).alias("spearman"),
        F.round("fechner", 6).alias("fechner"),
    )


def approx_avg_local_clustering(
    edges_undirected: DataFrame, trials: int, seed: int = 29
) -> DataFrame:
    """Schank-Wagner wedge sampling
    (``global/ClusteringCoefficient.cpp`` ``approxAvgLocal``): per
    trial, a uniform deg≥2 node v and two DISTINCT uniform neighbors
    (u, w); the estimate is the fraction of closed (u, w). The
    reference resamples until deg≥2 — here trials draw directly from
    the dense-indexed deg≥2 node table (same distribution, no
    rejection). Distinct pair: i ~ U[0, d), j ~ U[0, d−1) with
    j ← j+1 when j ≥ i — uniform over ordered distinct pairs.
    → single row (avg_cc DOUBLE)."""
    from icebug_spark.plans.zipindex import dense_index

    eu = edges_undirected.select("src", "dst").where(F.col("src") != F.col("dst"))
    eu = checkpoint(eu.union(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())
    spark = eu.sparkSession

    adj = eu.groupBy(F.col("src").alias("id")).agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )
    eligible = adj.where(F.size("nbrs") >= 2)
    idx_map = dense_index(eligible, ["id"], out="index", assume_distinct=True)
    indexed = checkpoint(eligible.join(idx_map, "id"))
    n_eligible = indexed.count()
    if n_eligible == 0:
        return spark.createDataFrame([(0.0,)], "avg_cc DOUBLE")

    t = spark.range(trials).select(F.col("id").alias("trial"))
    picks = t.select(
        "trial",
        F.floor(_u01(F.lit(seed), "trial", F.lit(0)) * n_eligible)
        .cast("long")
        .alias("idx"),
    )
    j0 = F.floor(_u01(F.lit(seed), "trial", F.lit(2)) * (F.size("nbrs") - 1)).cast(
        "int"
    )
    i0 = F.floor(_u01(F.lit(seed), "trial", F.lit(1)) * F.size("nbrs")).cast("int")
    wedges = (
        picks.join(indexed.select(F.col("index").alias("idx"), "nbrs"), "idx")
        .withColumn("i", i0)
        .withColumn("j", F.when(j0 >= i0, j0 + 1).otherwise(j0))
        .select(
            "trial",
            F.element_at("nbrs", F.col("i") + 1).alias("u"),
            F.element_at("nbrs", F.col("j") + 1).alias("w"),
        )
    )
    closed = wedges.join(
        eu.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        ["u", "w"],
        "left_semi",
    )
    return closed.agg(
        (F.count(F.lit(1)) / float(trials)).alias("avg_cc")
    )


def clustering(edges_undirected: DataFrame, error: float = 0.01) -> DataFrame:
    """``networkit.globals.clustering`` (``globals.pyx:109``): exact
    average local clustering below 100 nodes, else Schank-Wagner with
    ceil(ln(10)/error²) samples (fixed 90% confidence, the reference's
    constant). → single row (avg_cc DOUBLE), 6dp on the exact path."""
    from icebug_spark.operators.triangles import local_clustering_coefficient

    eu = edges_undirected
    n = (
        eu.select(F.col("src").alias("id"))
        .union(eu.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    if n < 100:
        lcc = local_clustering_coefficient(eu)
        return lcc.agg(F.round(F.avg("lcc"), 6).alias("avg_cc"))
    trials = math.ceil(math.log(10) / (error**2))
    return approx_avg_local_clustering(eu, trials)


def spectral_coloring(
    edges_undirected: DataFrame, max_nodes: int = 4096
) -> DataFrame:
    """SpectralColoring (``networkit/coloring.py:6``): every node starts
    in color 0; while some class has an internal edge, split it by the
    SIGN of the next adjacency eigenvector (ascending ``depth`` per the
    reference's recursion), nonnegative entries keep the class id,
    negative ones open a new class. Returns (id, color) — a valid
    (independent-set) coloring.

    The reference computes the dense spectrum driver-side
    (``adjacencyEigenvectors`` → ``symmetricEigenvectors``,
    ``algebraic.py:140``: eigenpairs sorted ASCENDING by algebraic
    eigenvalue); this mirrors that via :mod:`spectrum` behind a guarded
    collect — for graphs past ``max_nodes`` use the distributed
    ``numerics2.greedy_coloring`` instead (the guard says so).

    Documented divergence: the reference's ``cutoff=-1`` asks ARPACK
    for only n−2 pairs, silently dropping the two algebraically-
    SMALLEST eigenvectors — exactly the ones whose sign pattern splits
    near-bipartite classes (on C4 the reference's depth-0 vector is a
    null-space vector and the recursion can degenerate). We keep the
    full ascending spectrum, so depth 0 is the most-negative
    eigenvalue's vector — same recursion, strictly better-conditioned
    split order."""
    from icebug_spark.operators.spectrum import dense_adjacency, symmetric_eigenpairs

    eu = edges_undirected.select("src", "dst")
    spark = eu.sparkSession
    try:
        nodes, a = dense_adjacency(eu, max_nodes=max_nodes)
    except ValueError as e:
        raise ValueError(
            f"spectral_coloring: {e}; use numerics2.greedy_coloring for the "
            "distributed path"
        ) from None
    if not nodes:
        return spark.createDataFrame([], "id BIGINT, color LONG")
    n = len(nodes)
    # ascending algebraic order (the reference's real ordering)
    vals, vecs = symmetric_eigenpairs(a, cutoff=-1, reverse=False)
    colors: dict[int, set[int]] = {0: set(range(n))}
    next_color = [1]

    def valid(c: int) -> bool:
        s = colors[c]
        return not any(a[i, j] for i in s for j in s if j > i)

    def split(c: int, depth: int = 0) -> None:
        other = next_color[0]
        next_color[0] += 1
        vs = colors[c]
        colors[c] = {v for v in vs if vecs[v, depth] >= 0}
        colors[other] = {v for v in vs if vecs[v, depth] < 0}
        if not valid(c):
            split(c, depth + 1)
        if not valid(other):
            split(other, depth + 1)

    if not valid(0):
        split(0)
    rows = [
        (int(nodes[v]), int(c)) for c, vs in colors.items() for v in vs
    ]
    return spark.createDataFrame(rows, "id BIGINT, color LONG")
