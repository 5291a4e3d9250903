"""Sparsification part 2 — the remaining reference scores and the packaged
``Sparsifiers`` pipelines, as window-rank plans over the canonical edge list.

Parity targets:
- ``sparsification/LocalSimilarityScore.cpp`` run(): per endpoint i, rank
  incident edges by similarity ``tri/(deg(i)+deg(j)-tri)`` desc (ties by
  neighbor id asc — AttributizedEdge::operator<), e = 1-ln(rank)/ln(deg)
  (1.0 when deg==1); per-edge score = max over endpoints.
- ``sparsification/LocalFilterScore.hpp:26`` run(): same shape over an
  arbitrary edge attribute, but ties SHARE a rank (the reference's
  rank+=numSame bookkeeping ≡ SQL ``rank()``), with a logarithmic
  (1-log(rank)/log(d)) and a linear (1-(rank-1)/(d-1)) variant.
- ``sparsification/RandomNodeEdgeScore.cpp`` run(): sequential random edge
  removal mixing uniform picks with node-then-incident-edge picks; the
  score is the normalized removal time. Re-expressed declaratively as an
  exponential race (see docstring — documented approximation).
- ``sparsification/Sparsifiers.cpp`` — six score→GlobalThresholdFilter
  compositions (SimmelianNonParametric / SimmelianParametric / Multiscale /
  LocalSimilarity / SimmelianMultiscale / Random).

Scale notes: every score is a per-endpoint window over the adjacency —
one shuffle on the endpoint key, hub skew absorbed by AQE; triangle
counts reuse the degree-ordered enumeration from ``triangles.py`` (bounded
by m^1.5, no cartesian). Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icebug_spark.operators.edgescores import (
    _degrees,
    edge_triangle_count,
    global_threshold_filter,
    multiscale_score,
    prefix_jaccard_score,
    random_edge_score,
    simmelian_overlap_score,
)
from icebug_spark.operators.triangles import canonical_edges
from icebug_spark.plans.iterate import checkpoint


def local_similarity_score(edges_undirected: DataFrame) -> DataFrame:
    """LocalSimilarityScore: minimum sparsification exponent per edge.

    Per edge (u,v): sim = tri(u,v) / (deg(u)+deg(v)-tri(u,v)). Per endpoint
    i, neighbors are ordered by (sim desc, neighbor id asc) — a strict
    total order, so ``row_number`` (the reference ranks ties apart, unlike
    LocalFilterScore). e = 1 - ln(rank)/ln(deg(i)) for deg>1, else 1.0;
    the edge keeps the max of its two endpoint exponents.
    Output: (u, v, ls_score) rounded 6dp.
    """
    te = checkpoint(edge_triangle_count(edges_undirected))
    deg = _degrees(te)
    sim = (
        te.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            "du",
            "dv",
            (
                F.col("n_tri").cast("double")
                / (F.col("du") + F.col("dv") - F.col("n_tri")).cast("double")
            ).alias("sim"),
        )
    )
    adj = sim.select(
        F.col("u").alias("node"), F.col("v").alias("nbr"), F.col("du").alias("d"), "sim"
    ).union(
        sim.select(
            F.col("v").alias("node"), F.col("u").alias("nbr"), F.col("dv").alias("d"), "sim"
        )
    )
    w = Window.partitionBy("node").orderBy(F.col("sim").desc(), F.col("nbr"))
    scored = adj.withColumn("rank", F.row_number().over(w)).select(
        "node",
        "nbr",
        F.when(
            F.col("d") > 1,
            1.0 - F.log(F.col("rank").cast("double")) / F.log(F.col("d").cast("double")),
        )
        .otherwise(F.lit(1.0))
        .alias("e"),
    )
    return (
        scored.select(
            F.least("node", "nbr").alias("u"), F.greatest("node", "nbr").alias("v"), "e"
        )
        .groupBy("u", "v")
        .agg(F.round(F.max("e"), 6).alias("ls_score"))
    )


def local_filter_score(
    edges_scored: DataFrame, score_col: str = "score", logarithmic: bool = True
) -> DataFrame:
    """LocalFilterScore<InType>: local rank filter over any edge attribute.

    Input: canonical (u, v, <score_col>). Per endpoint, edges are ranked by
    attribute desc with ties SHARING the minimum rank (reference
    rank+=numSame ≡ SQL ``rank()``); exponent e = 1-log(rank)/log(d)
    (logarithmic) or 1-(rank-1)/(d-1) (linear), 1.0 when d==1; per-edge
    score = max over both endpoints. Output (u, v, lf_score) rounded 6dp.
    """
    e = edges_scored.select("u", "v", F.col(score_col).alias("s"))
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr"), "s").union(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"), "s")
    )
    wd = Window.partitionBy("node")
    w = wd.orderBy(F.col("s").desc())
    ranked = adj.select(
        "node", "nbr", F.rank().over(w).alias("rank"), F.count(F.lit(1)).over(wd).alias("d")
    )
    if logarithmic:
        expo = 1.0 - F.log(F.col("rank").cast("double")) / F.log(F.col("d").cast("double"))
    else:
        expo = 1.0 - (F.col("rank") - 1).cast("double") / (F.col("d") - 1).cast("double")
    scored = ranked.select(
        "node", "nbr", F.when(F.col("d") > 1, expo).otherwise(F.lit(1.0)).alias("e")
    )
    return (
        scored.select(
            F.least("node", "nbr").alias("u"), F.greatest("node", "nbr").alias("v"), "e"
        )
        .groupBy("u", "v")
        .agg(F.round(F.max("e"), 6).alias("lf_score"))
    )


def random_node_edge_score(
    edges_undirected: DataFrame, rne_ratio: float = 0.5, seed: int = 42
) -> DataFrame:
    """RandomNodeEdgeScore, re-expressed as a static exponential race.

    The reference removes edges one at a time — with probability
    (1-rneRatio) a uniformly random surviving edge, else a random node's
    random incident edge — and scores each edge by its normalized removal
    time. That loop is inherently sequential (each step depends on the
    surviving graph), so the Spark plan uses the standard static
    equivalent: each edge's per-step removal hazard under the mixture is
    proportional to ``(1-r)/m + (r/n)*(1/deg(u)+1/deg(v))``; drawing
    t_e = -ln(U_e)/hazard_e and ranking by t ascending reproduces the
    removal order in distribution for the memoryless approximation
    (documented divergence: the true process renormalizes over survivors,
    which perturbs late-order statistics only). Score = (rank-1)/m in
    [0,1), matching the reference's numRemoved/m encoding.
    """
    c = checkpoint(canonical_edges(edges_undirected))
    deg = _degrees(c)
    counts = c.agg(
        F.count(F.lit(1)).alias("m"),
    ).crossJoin(deg.agg(F.count(F.lit(1)).alias("n")))
    u01 = (
        (F.pmod(F.xxhash64("u", "v", F.lit(seed)), F.lit(1_000_000_007)) + 1).cast("double")
        / 1_000_000_008.0
    )
    hazard = (
        F.lit(1.0 - rne_ratio) / F.col("m")
        + F.lit(rne_ratio) / F.col("n") * (1.0 / F.col("du") + 1.0 / F.col("dv"))
    )
    timed = (
        c.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
        .crossJoin(F.broadcast(counts))
        .select("u", "v", "m", (-F.log(u01) / hazard).alias("t"))
    )
    # normalized global rank of the exponential arrival times — two-pass
    # zipWithIndex instead of an all-edges single-partition window ((t,u,v)
    # is unique: t is a continuous hash draw, (u,v) canonical)
    from icebug_spark.plans.zipindex import dense_index

    ranked = dense_index(timed, ["t", "u", "v", "m"], out="rn", assume_distinct=True)
    return ranked.select(
        "u",
        "v",
        F.round(F.col("rn").cast("double") / F.col("m"), 9).alias("rne_score"),
    )


# --- packaged Sparsifiers (Sparsifiers.cpp) -------------------------------
# Each returns the KEPT canonical edge subset (u, v [, score]).


def simmelian_sparsifier_non_parametric(
    edges_undirected: DataFrame, threshold: float = 0.5, k: int = 10
) -> DataFrame:
    """SimmelianSparsifierNonParametric: triangle counts → prefix-Jaccard
    score → keep score >= threshold."""
    te = edge_triangle_count(edges_undirected)
    pj = prefix_jaccard_score(te, score_col="n_tri", k=k)
    return global_threshold_filter(pj, "pj_score", threshold, above=True)


def simmelian_sparsifier_parametric(
    edges_undirected: DataFrame, max_rank: int = 10, min_overlap: int = 5
) -> DataFrame:
    """SimmelianSparsifierParametric: triangle-ranked overlap → keep
    overlap >= minOverlap."""
    ov = simmelian_overlap_score(edges_undirected, max_rank=max_rank)
    return global_threshold_filter(ov, "overlap", float(min_overlap), above=True)


def multiscale_sparsifier(
    edges_weighted_undirected: DataFrame, alpha: float = 0.5
) -> DataFrame:
    """MultiscaleSparsifier: disparity-filter probability on edge weights,
    keep prob >= alpha."""
    ms = multiscale_score(edges_weighted_undirected)
    return global_threshold_filter(ms, "ms_score", alpha, above=True)


def local_similarity_sparsifier(
    edges_undirected: DataFrame, e: float = 0.5
) -> DataFrame:
    """LocalSimilaritySparsifier: keep edges whose minimum sparsification
    exponent >= e."""
    ls = local_similarity_score(edges_undirected)
    return global_threshold_filter(ls, "ls_score", e, above=True)


def simmelian_multiscale_sparsifier(
    edges_undirected: DataFrame, alpha: float = 0.5
) -> DataFrame:
    """SimmelianMultiscaleSparsifier: disparity filter applied to per-edge
    triangle counts (as weights), keep prob >= alpha."""
    te = edge_triangle_count(edges_undirected)
    ms = multiscale_score(
        te.select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            F.col("n_tri").cast("double").alias("weight"),
        )
    )
    return global_threshold_filter(ms, "ms_score", alpha, above=True)


def random_sparsifier(
    edges_undirected: DataFrame, ratio: float = 0.5, seed: int = 42
) -> DataFrame:
    """RandomSparsifier: uniform random score, keep score >= ratio."""
    rs = random_edge_score(edges_undirected, seed=seed)
    return global_threshold_filter(rs, "rand_score", ratio, above=True)


# --- getSparsifiedGraphOfSize / parameterization search -------------------
# (reference networkit/sparsification.pyx:762 getSparsifiedGraphOfSize,
#  :795 getParameter, :818 SimpleParameterization,
#  :845 BinarySearchParameterization, :919 CompleteSearchParameterization)


def parameter_for_edge_ratio(
    edges_scored: DataFrame,
    score_col: str,
    edge_ratio: float,
    above: bool = True,
    int_domain: tuple[int, int] | None = None,
    small_threshold: int = 65536,
) -> float:
    """The parameter value whose global-threshold filter keeps the edge
    ratio CLOSEST to ``edge_ratio`` — the exact form of the reference's
    parameterization search (``sparsification.pyx:845,919``).

    Every packaged sparsifier's ``_getSparsifiedGraph`` is a
    GlobalThresholdFilter over a STATIC score table, so the kept-ratio
    as a function of the parameter is the score distribution's CDF; the
    reference inverts it by re-running the filter 20 times (binary
    search) or |domain| times (complete search). Here the inversion is
    ONE pass: per-score counts, a distributed running sum in threshold
    order (``plans.zipindex.running_sums`` — no single-partition
    window), then argmin |kept/m − target| over the candidate
    thresholds. Exact where the reference's 20-step bisection is
    approximate (documented divergence — the reference converges toward
    the same argmin); like the reference, candidates keeping zero edges
    are excluded (pyx:900 ``abs(currentEdgeRatio) > _ABS_ZERO``). Ties
    on distance prefer the larger kept set, then the smaller parameter
    (deterministic; the reference's tie outcome is search-order
    dependent).

    ``int_domain=(lo, hi)`` restricts candidates to the integers lo..hi
    (CompleteSearchParameterization, e.g. Simmelian max-rank overlap);
    evaluated as one conditional aggregation — |domain| counters, one
    job.

    ``small_threshold``: when the per-score histogram has at most this
    many distinct values it is collected (one job, LIMIT-sentinel probe)
    and inverted on the driver; past it the inversion stays fully
    distributed via ``running_sums``. Continuous scores at 100 TB hit
    the distributed path; every rank-style score (prefix-Jaccard,
    overlap counts, disparity p-values rounded 6dp) has a tiny value
    set and takes the 2-job path."""
    from icebug_spark.plans.zipindex import running_sums
    if int_domain is not None:
        lo, hi = int(int_domain[0]), int(int_domain[1])
        m = edges_scored.count()
        if m == 0:
            raise ValueError("parameter search on an empty edge table")
        cmp = (
            (lambda i: F.col(score_col) >= i)
            if above
            else (lambda i: F.col(score_col) <= i)
        )
        row = edges_scored.agg(
            *[
                F.count(F.when(cmp(i), F.lit(1))).alias(f"k_{i}")
                for i in range(lo, hi + 1)
            ]
        ).collect()[0]
        best = None
        for i in range(lo, hi + 1):
            kept = int(row[f"k_{i}"])
            if kept == 0:
                continue
            d = abs(kept / m - edge_ratio)
            key = (d, -kept, i)
            if best is None or key < best[0]:
                best = (key, i)
        if best is None:
            raise ValueError("no parameter in the domain keeps any edge")
        return float(best[1])
    per = edges_scored.groupBy(score_col).agg(F.count(F.lit(1)).alias("cnt"))
    # LIMIT-sentinel probe: if the histogram fits, this single collect IS
    # the complete value set and the inversion finishes on the driver
    hist = per.limit(small_threshold + 1).collect()
    if len(hist) <= small_threshold:
        if not hist:
            raise ValueError("parameter search on an empty edge table")
        vals = sorted(
            ((float(r[score_col]), int(r["cnt"])) for r in hist),
            reverse=above,
        )
        m = sum(c for _v, c in vals)
        best = None
        kept = 0
        for v, c in vals:  # cumulative kept in threshold order
            kept += c
            key = (abs(kept / m - edge_ratio), -kept, v if above else -v)
            if best is None or key < best[0]:
                best = (key, v)
        return float(best[1])
    m = edges_scored.count()
    cum = running_sums(
        per.withColumnRenamed("cnt", "kept"),
        [score_col],
        ["kept"],
        descending=above,
    )
    cand = (
        cum.where(F.col("kept") > 0)
        .select(
            score_col,
            F.abs(F.col("kept").cast("double") / m - F.lit(edge_ratio)).alias(
                "dist"
            ),
            "kept",
        )
        .orderBy("dist", F.col("kept").desc(), F.col(score_col).asc())
        .limit(1)
        .collect()
    )
    return float(cand[0][score_col])


def sparsify_to_size(
    edges_scored: DataFrame,
    score_col: str,
    edge_ratio: float,
    above: bool = True,
    int_domain: tuple[int, int] | None = None,
) -> DataFrame:
    """getSparsifiedGraphOfSize on a pre-scored edge table: invert the
    score CDF for the threshold (``parameter_for_edge_ratio``) and apply
    the global threshold filter — the score table is computed ONCE and
    scanned twice, vs the reference's 20 filter re-runs."""
    p = parameter_for_edge_ratio(
        edges_scored, score_col, edge_ratio, above, int_domain
    )
    return global_threshold_filter(edges_scored, score_col, p, above)


def get_sparsified_graph_of_size(
    edges_undirected: DataFrame,
    method: str,
    edge_ratio: float,
    max_rank: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Convenience dispatcher over the packaged sparsifiers
    (reference ``sparsification.pyx:1005-1560`` — each class pairs a
    score with a parameterization strategy):

    - ``simmelian_nonparametric`` — prefix-Jaccard over triangle counts
      (BinarySearch(0,1) in the reference → exact CDF inversion here)
    - ``simmelian_parametric`` — top-``max_rank`` overlap
      (CompleteSearch(0, max_rank) → integer-domain inversion)
    - ``simmelian_multiscale`` — disparity filter on triangle counts
    - ``local_similarity`` — local-similarity exponent
    - ``local_degree`` — local-degree score
    - ``random`` — RandomEdgeSparsifier's uniform score

    → the kept canonical edge subset (u, v, <score>)."""
    from icebug_spark.operators.edgescores import (
        edge_triangle_count,
        local_degree_score,
        multiscale_score,
        prefix_jaccard_score,
        random_edge_score,
        simmelian_overlap_score,
    )

    if method == "simmelian_nonparametric":
        s = prefix_jaccard_score(
            edge_triangle_count(edges_undirected), score_col="n_tri", k=max_rank
        )
        return sparsify_to_size(s, "pj_score", edge_ratio, above=True)
    if method == "simmelian_parametric":
        s = simmelian_overlap_score(edges_undirected, max_rank=max_rank)
        return sparsify_to_size(
            s, "overlap", edge_ratio, above=True, int_domain=(0, max_rank)
        )
    if method == "simmelian_multiscale":
        te = edge_triangle_count(edges_undirected)
        s = multiscale_score(
            te.select(
                F.col("u").alias("src"),
                F.col("v").alias("dst"),
                F.col("n_tri").cast("double").alias("weight"),
            )
        )
        return sparsify_to_size(s, "ms_score", edge_ratio, above=True)
    if method == "local_similarity":
        s = local_similarity_score(edges_undirected)
        return sparsify_to_size(s, "ls_score", edge_ratio, above=True)
    if method == "local_degree":
        s = local_degree_score(edges_undirected)
        return sparsify_to_size(s, "ld_score", edge_ratio, above=True)
    if method == "random":
        s = random_edge_score(edges_undirected, seed=seed)
        return sparsify_to_size(s, "rand_score", edge_ratio, above=True)
    raise ValueError(f"unknown sparsifier method: {method}")
