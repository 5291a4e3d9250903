"""Per-edge scores and sparsification — the reference's edgescores/ +
sparsification/ modules re-expressed as joins, aggregations, and windows.

Parity targets:
- ``edgescores/TriangleEdgeScore.hpp:28`` — triangles per edge;
- ``edgescores/ChibaNishizekiQuadrangleEdgeScore.hpp:15`` — quadrangles per edge;
- ``edgescores/GeometricMeanScore.cpp`` (run() loop) — attr / sqrt(nodeSum_u*nodeSum_v);
- ``edgescores/EdgeScoreNormalizer.hpp:17`` — min-max rescale to [lower,upper];
- ``edgescores/EdgeScoreLinearizer.cpp`` (run()) — rank position / (m-1);
- ``edgescores/EdgeScoreBlender.hpp:16`` — convex blend of two scores;
- ``edgescores/PrefixJaccardScore.hpp:9`` — Jaccard of top-rank neighbor prefixes;
- ``sparsification/SCANStructuralSimilarityScore.cpp`` run():
  (tri+1)/sqrt((du+1)(dv+1));
- ``sparsification/ChanceCorrectedTriangleScore.cpp`` run():
  tri*(n-2)/((du-1)(dv-1)), 1 for pendant edges;
- ``sparsification/LocalDegreeScore.cpp`` run(): per endpoint, competition-rank
  neighbors by degree desc, e = 1 - log(rank)/log(deg), per-edge max;
- ``sparsification/MultiscaleScore.cpp`` run() + getProbability: disparity
  filter, p = 1-(1-w/s_u)^(deg_u - 1), per-edge max over endpoints;
- ``sparsification/SimmelianOverlapScore.hpp:19`` — overlap of top-maxRank
  triangle-ranked neighborhoods;
- ``sparsification/RandomEdgeScore.hpp:18`` — uniform score;
- ``sparsification/GlobalThresholdFilter.hpp:18`` — keep score >= / <= t;
- ``sparsification/ForestFireScore.hpp:19`` — burn-frequency score (seeded
  spreading simulation).

All operate on the canonical undirected edge list (u < v) with optional
``score`` columns; every scorer returns (u, v, <score>). Windows partition
by endpoint, never collect — skew on hub nodes is the only hazard and is
handled by AQE + the degree-oriented triangle enumeration reused from
``triangles.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icebug_spark.operators.triangles import canonical_edges, triangles
from icebug_spark.plans.iterate import checkpoint


def _degrees(c: DataFrame) -> DataFrame:
    return (
        c.select(F.col("u").alias("id"))
        .union(c.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def edge_triangle_count(
    edges_undirected: DataFrame,
    canon: DataFrame | None = None,
    kernel: tuple | None = None,
) -> DataFrame:
    """TriangleEdgeScore: (u, v, n_tri) triangles containing each canonical
    edge; edges in no triangle report 0. ``canon``/``kernel``: shared
    canonical-edge / oriented-adjacency artifacts (catalog memo)."""
    c = (
        checkpoint(canonical_edges(edges_undirected))
        if canon is None
        else canon
    )
    t = triangles(
        c.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        canon=c,
        kernel=kernel,
    )
    per_edge = (
        t.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(t.select(F.col("a").alias("u"), F.col("c").alias("v")))
        .union(t.select(F.col("b").alias("u"), F.col("c").alias("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return c.join(per_edge, ["u", "v"], "left").select(
        "u", "v", F.coalesce("n_tri", F.lit(0)).alias("n_tri")
    )


def edge_quadrangle_count(edges_undirected: DataFrame) -> DataFrame:
    """ChibaNishizekiQuadrangleEdgeScore: 4-cycles u-v-w-x-u through each
    canonical edge (u,v): pairs (x ∈ N(u)\\{v}, w ∈ N(v)\\{u}), x != w,
    (x,w) ∈ E. One wedge join + one closing semi-join-as-inner-join."""
    c = checkpoint(canonical_edges(edges_undirected))
    adj = c.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        c.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    nu = adj.select(F.col("node").alias("u"), F.col("nbr").alias("x"))
    nv = adj.select(F.col("node").alias("v"), F.col("nbr").alias("w"))
    cand = (
        c.join(nu, "u")
        .join(nv, "v")
        .where(
            (F.col("x") != F.col("v"))
            & (F.col("w") != F.col("u"))
            & (F.col("x") != F.col("w"))
        )
    )
    close = c.select(
        F.least("u", "v").alias("cx"), F.greatest("u", "v").alias("cw")
    )
    quads = (
        cand.withColumn("cx", F.least("x", "w"))
        .withColumn("cw", F.greatest("x", "w"))
        .join(close, ["cx", "cw"], "leftsemi")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_quad"))
    )
    return c.join(quads, ["u", "v"], "left").select(
        "u", "v", F.coalesce("n_quad", F.lit(0)).alias("n_quad")
    )


def scan_similarity(edges_undirected: DataFrame) -> DataFrame:
    """SCANStructuralSimilarityScore: (tri+1)/sqrt((deg_u+1)*(deg_v+1)),
    rounded 6dp — the closed-neighborhood cosine used by SCAN clustering."""
    te = edge_triangle_count(edges_undirected)
    c = te.select("u", "v")
    deg = _degrees(c)
    return (
        te.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            F.round(
                (F.col("n_tri") + 1).cast("double")
                / F.sqrt(((F.col("du") + 1) * (F.col("dv") + 1)).cast("double")),
                6,
            ).alias("scan_sim"),
        )
    )


def chance_corrected_triangle(edges_undirected: DataFrame) -> DataFrame:
    """ChanceCorrectedTriangleScore: tri*(n-2)/((du-1)(dv-1)) when tri>0,
    1.0 for pendant edges (du==1 or dv==1), else 0. Rounded 6dp."""
    te = edge_triangle_count(edges_undirected)
    c = te.select("u", "v")
    deg = _degrees(c)
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    return (
        te.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
        .crossJoin(F.broadcast(n_nodes))
        .select(
            "u",
            "v",
            F.round(
                F.when(
                    F.col("n_tri") > 0,
                    (F.col("n_tri") * (F.col("n") - 2)).cast("double")
                    / ((F.col("du") - 1) * (F.col("dv") - 1)).cast("double"),
                )
                .when((F.col("du") == 1) | (F.col("dv") == 1), F.lit(1.0))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("cct_score"),
        )
    )


def local_degree_score(edges_undirected: DataFrame) -> DataFrame:
    """LocalDegreeScore: per node i, competition-rank incident edges by
    neighbor degree desc; exponent e = 1 - log(rank)/log(deg(i)) (1.0 when
    deg(i)==1); per-edge score = max over the two endpoint views. The
    reference's per-node sort ≡ a ``rank()`` window (ties share rank)."""
    c = checkpoint(canonical_edges(edges_undirected))
    deg = _degrees(c)
    adj = (
        c.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .union(c.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .join(deg.select(F.col("id").alias("node"), F.col("deg").alias("d")), "node")
        .join(deg.select(F.col("id").alias("nbr"), F.col("deg").alias("dn")), "nbr")
    )
    w = Window.partitionBy("node").orderBy(F.col("dn").desc())
    scored = adj.withColumn("rank", F.rank().over(w)).select(
        "node",
        "nbr",
        F.when(F.col("d") > 1, 1.0 - F.log(F.col("rank").cast("double")) / F.log(F.col("d").cast("double")))
        .otherwise(F.lit(1.0))
        .alias("e"),
    )
    return (
        scored.select(
            F.least("node", "nbr").alias("u"),
            F.greatest("node", "nbr").alias("v"),
            "e",
        )
        .groupBy("u", "v")
        .agg(F.round(F.max("e"), 6).alias("ld_score"))
    )


def multiscale_score(edges_weighted_undirected: DataFrame) -> DataFrame:
    """MultiscaleScore (disparity filter): per endpoint u with degree k and
    locally-normalized weight p = w/sum_u(w), probability = 1-(1-p)^(k-1)
    (1.0 when k==1 — lone edges always significant); per-edge max over the
    two endpoints. Input must carry ``weight``. Rounded 6dp."""
    e = edges_weighted_undirected.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
        "weight",
    ).where(F.col("u") != F.col("v")).groupBy("u", "v").agg(F.max("weight").alias("weight"))
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr"), "weight").union(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"), "weight")
    )
    w = Window.partitionBy("node")
    per_side = adj.select(
        "node",
        "nbr",
        (F.col("weight") / F.sum("weight").over(w)).alias("p"),
        F.count(F.lit(1)).over(w).alias("k"),
    ).select(
        "node",
        "nbr",
        F.when(F.col("k") > 1, 1.0 - F.pow(1.0 - F.col("p"), (F.col("k") - 1).cast("double")))
        .otherwise(F.lit(1.0))
        .alias("prob"),
    )
    return (
        per_side.select(
            F.least("node", "nbr").alias("u"),
            F.greatest("node", "nbr").alias("v"),
            "prob",
        )
        .groupBy("u", "v")
        .agg(F.round(F.max("prob"), 6).alias("ms_score"))
    )


def geometric_mean_score(edges_scored: DataFrame, score_col: str = "score") -> DataFrame:
    """GeometricMeanScore: attr_e / sqrt(nodeSum_u * nodeSum_v) where
    nodeSum = sum of incident edge attrs; 0 where attr <= 0. Rounded 6dp."""
    e = edges_scored.select("u", "v", F.col(score_col).alias("s"))
    sums = (
        e.select(F.col("u").alias("id"), "s")
        .union(e.select(F.col("v").alias("id"), "s"))
        .groupBy("id")
        .agg(F.sum("s").alias("nsum"))
    )
    return (
        e.join(sums.select(F.col("id").alias("u"), F.col("nsum").alias("su")), "u")
        .join(sums.select(F.col("id").alias("v"), F.col("nsum").alias("sv")), "v")
        .select(
            "u",
            "v",
            F.round(
                F.when(
                    F.col("s") > 0,
                    F.col("s") / F.sqrt(F.col("su") * F.col("sv")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("gm_score"),
        )
    )


def normalize_score(
    edges_scored: DataFrame,
    score_col: str = "score",
    lower: float = 0.0,
    upper: float = 1.0,
    invert: bool = False,
) -> DataFrame:
    """EdgeScoreNormalizer: min-max rescale into [lower, upper]."""
    e = edges_scored.select("u", "v", F.col(score_col).cast("double").alias("s"))
    stats = e.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    raw = F.when(
        F.col("hi") == F.col("lo"), F.lit((lower + upper) / 2.0)
    ).otherwise(
        F.lit(lower)
        + (F.col("s") - F.col("lo")) / (F.col("hi") - F.col("lo")) * F.lit(upper - lower)
    )
    out = raw if not invert else F.lit(upper + lower) - raw
    return e.crossJoin(F.broadcast(stats)).select(
        "u", "v", F.round(out, 6).alias("norm_score")
    )


def linearize_score(edges_scored: DataFrame, score_col: str = "score", inverse: bool = False) -> DataFrame:
    """EdgeScoreLinearizer: replace scores by their sorted position /(m-1)
    ∈ [0,1] (deterministic tie-break by (u,v) instead of the reference's
    random tiebreak — same distribution, reproducible).

    Scale note: the total rank is computed with the two-pass
    :func:`zipindex.dense_index` pattern (range-partition by the sort
    key, P-row offset collect, rank within partitions in parallel) —
    no Exchange SinglePartition, so an m-row score table ranks at full
    cluster parallelism."""
    from icebug_spark.plans.zipindex import dense_index

    s = F.col(score_col).cast("double")
    e = edges_scored.select("u", "v", (-s if inverse else s).alias("__k"))
    m = edges_scored.count()
    denom = float(max(m - 1, 1))
    idx = dense_index(e, ["__k", "u", "v"], out="__r", assume_distinct=True)
    return idx.select(
        "u",
        "v",
        F.round(F.col("__r").cast("double") / F.lit(denom), 6).alias("lin_score"),
    )


def blend_scores(
    a: DataFrame, b: DataFrame, factor: float, a_col: str, b_col: str
) -> DataFrame:
    """EdgeScoreBlender: factor*a + (1-factor)*b joined on (u,v)."""
    return (
        a.select("u", "v", F.col(a_col).alias("sa"))
        .join(b.select("u", "v", F.col(b_col).alias("sb")), ["u", "v"])
        .select(
            "u",
            "v",
            F.round(F.lit(factor) * F.col("sa") + F.lit(1.0 - factor) * F.col("sb"), 6).alias(
                "blend_score"
            ),
        )
    )


def random_edge_score(edges_undirected: DataFrame, seed: int = 42) -> DataFrame:
    """RandomEdgeScore: uniform [0,1) per edge — seeded hash, not rand(),
    so the score is a pure function of the edge (stable across retries)."""
    c = canonical_edges(edges_undirected)
    return c.select(
        "u",
        "v",
        (
            F.pmod(F.xxhash64("u", "v", F.lit(seed)), F.lit(1_000_000_007)).cast("double")
            / F.lit(1_000_000_007.0)
        ).alias("rand_score"),
    )


def prefix_jaccard_score(
    edges_scored: DataFrame, score_col: str = "score", k: int = 10
) -> DataFrame:
    """PrefixJaccardScore (reference
    ``sparsification/PrefixJaccardScore.hpp``): per node rank neighbors by
    score desc; per edge (u,v) the score is the Jaccard similarity of the
    two rank-k prefixes with (a) ties sharing a rank slot (``rank()``, so a
    tie group at the boundary is included whole, as the reference's
    sorted-prefix does) and (b) each endpoint excluded from the other's
    prefix. Deliberate simplification vs the reference: a single fixed-k
    prefix instead of max-over-all-prefixes (documented; the max variant
    needs one Jaccard per rank level)."""
    e = edges_scored.select("u", "v", F.col(score_col).alias("s"))
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr"), "s").union(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"), "s")
    )
    w = Window.partitionBy("node").orderBy(F.col("s").desc())
    prefix = adj.withColumn("r", F.rank().over(w)).where(F.col("r") <= k)
    pa = prefix.select(F.col("node").alias("u"), F.col("nbr").alias("m"))
    pb = prefix.select(F.col("node").alias("v"), F.col("nbr").alias("m"))
    # per-edge prefix of u excluding v (and vice versa); intersection via
    # leftsemi against the opposite prefix.
    eu_pref = e.select("u", "v").join(pa, "u").where(F.col("m") != F.col("v"))
    ev_pref = e.select("u", "v").join(pb, "v").where(F.col("m") != F.col("u"))
    su = eu_pref.groupBy("u", "v").agg(F.count(F.lit(1)).alias("su"))
    sv = ev_pref.groupBy("u", "v").agg(F.count(F.lit(1)).alias("sv"))
    inter = (
        eu_pref.join(pb, ["v", "m"], "leftsemi")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cap"))
    )
    return (
        e.select("u", "v")
        .join(inter, ["u", "v"], "left")
        .join(su, ["u", "v"], "left")
        .join(sv, ["u", "v"], "left")
        .select(
            "u",
            "v",
            F.when(
                F.coalesce("su", F.lit(0)) + F.coalesce("sv", F.lit(0)) == 0,
                F.lit(0.0),
            )
            .otherwise(
                F.round(
                    F.coalesce("cap", F.lit(0)).cast("double")
                    / (
                        F.coalesce("su", F.lit(0))
                        + F.coalesce("sv", F.lit(0))
                        - F.coalesce("cap", F.lit(0))
                    ).cast("double"),
                    6,
                )
            )
            .alias("pj_score"),
        )
    )


def simmelian_overlap_score(edges_undirected: DataFrame, max_rank: int = 10) -> DataFrame:
    """SimmelianOverlapScore (parametric simmelian backbone): rank each
    node's neighbors by embeddedness (shared triangles) desc, tie-break by
    neighbor id; score of edge (u,v) = |top-maxRank(u) ∩ top-maxRank(v)|."""
    te = checkpoint(edge_triangle_count(edges_undirected))
    adj = te.select(F.col("u").alias("node"), F.col("v").alias("nbr"), "n_tri").union(
        te.select(F.col("v").alias("node"), F.col("u").alias("nbr"), "n_tri")
    )
    w = Window.partitionBy("node").orderBy(F.col("n_tri").desc(), F.col("nbr"))
    prefix = adj.withColumn("r", F.row_number().over(w)).where(F.col("r") <= max_rank)
    pa = prefix.select(F.col("node").alias("u"), F.col("nbr").alias("m"))
    pb = prefix.select(F.col("node").alias("v"), F.col("nbr").alias("m"))
    inter = (
        te.select("u", "v")
        .join(pa, "u")
        .join(pb, ["v", "m"], "leftsemi")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    return te.select("u", "v").join(inter, ["u", "v"], "left").select(
        "u", "v", F.coalesce("overlap", F.lit(0)).alias("overlap")
    )


def forest_fire_score(
    edges_undirected: DataFrame,
    p: float = 0.6,
    rounds: int = 20,
    seed: int = 42,
    target_burn_ratio: float = 2.0,
) -> DataFrame:
    """ForestFireScore: repeated seeded 'fires' spread along edges with
    continuation probability p; an edge's score is its burn frequency,
    normalized by the max. Stochastic in the reference (Leskovec forest
    fire); here each round r is a deterministic function of (seed, r):
    one random root per round, frontier spreads while hash(u,v,seed,r,hop)
    < p, capped at log-scale hops. Driver loop over rounds (bounded)."""
    c = checkpoint(canonical_edges(edges_undirected))
    adj = checkpoint(c.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        c.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    ))
    nodes = adj.select(F.col("node").alias("id")).distinct()
    burns = None
    max_hops = 8
    for r in range(rounds):
        root = nodes.orderBy(F.xxhash64("id", F.lit(seed + r))).limit(1).select(
            F.col("id").alias("node")
        )
        frontier = root
        visited = root
        for hop in range(max_hops):
            step = (
                frontier.join(adj, "node")
                .where(
                    F.pmod(
                        F.xxhash64("node", "nbr", F.lit(seed), F.lit(r), F.lit(hop)),
                        F.lit(1000),
                    )
                    < int(p * 1000)
                )
                .select("node", "nbr")
            )
            burned = step.select(
                F.least("node", "nbr").alias("u"), F.greatest("node", "nbr").alias("v")
            )
            burns = burned if burns is None else burns.union(burned)
            frontier = (
                step.select(F.col("nbr").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
            )
            if hop % 3 == 2:
                frontier = checkpoint(frontier)
            if frontier.isEmpty():
                break
            visited = checkpoint(visited.union(frontier).distinct())
    if burns is None:
        return c.select("u", "v", F.lit(0.0).alias("ff_score"))
    freq = burns.groupBy("u", "v").agg(F.count(F.lit(1)).alias("nb"))
    mx = freq.agg(F.max("nb").alias("mx"))
    return (
        c.join(freq, ["u", "v"], "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "u",
            "v",
            F.round(
                F.coalesce("nb", F.lit(0)).cast("double") / F.col("mx").cast("double"), 6
            ).alias("ff_score"),
        )
    )


def global_threshold_filter(
    edges_scored: DataFrame, score_col: str, threshold: float, above: bool = True
) -> DataFrame:
    """GlobalThresholdFilter: keep edges with score >= t (above) or <= t."""
    cond = (
        F.col(score_col) >= threshold if above else F.col(score_col) <= threshold
    )
    return edges_scored.where(cond)


def sparsify_local_degree(edges_undirected: DataFrame, target_ratio: float) -> DataFrame:
    """LocalDegreeSparsifier: score with local-degree, keep roughly the top
    target_ratio fraction of edges. The cutoff comes from approxQuantile
    (distributed sketch), not a global sort — a total order over all edges
    would serialize into one task at scale."""
    s = checkpoint(local_degree_score(edges_undirected))
    cut = s.approxQuantile("ld_score", [1.0 - target_ratio], 0.001)[0]
    return s.where(F.col("ld_score") >= cut)


def edge_score_as_weight(
    edges_scored: DataFrame,
    score_col: str = "score",
    squared: bool = False,
    offset: float = 1.0,
    factor: float = 1.0,
) -> DataFrame:
    """EdgeScoreAsWeight (reference ``edgescores/EdgeScoreAsWeight.cpp:17``):
    weight = offset + factor·score (or factor·score² when ``squared``) —
    a pure column expression over the scored edge table.
    → (src, dst, weight)."""
    s = F.col(score_col).cast("double")
    w = F.lit(offset) + F.lit(factor) * (s * s if squared else s)
    return edges_scored.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), w.alias("weight")
    )
