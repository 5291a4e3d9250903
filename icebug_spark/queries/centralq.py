"""Centrality & distance query entries q42-q51 on the derived graph.

Katz / eccentricity / closeness / diameter / effective diameter get
recursive-CTE DuckDB oracles; Sfigality and Laplacian centrality are
plain SQL. Betweenness, eigenvector, and algebraic distance are
rows-only (per-level float accumulation / normalization isn't worth
oracle-encoding) and are golden-tested on fixtures instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.catalog import E_SQL, EU_SQL, derived_edges, symmetrize, derived_edges_undirected
from icebug_spark.operators import centrality2, distances
from icebug_spark.plans.iterate import checkpoint

_KATZ_ALPHA = 0.05
_KATZ_ITER = 8
_SAMPLE_CAP = 20  # BFS-based per-source queries use sources id < cap


def q42(spark: SparkSession, sf: str) -> DataFrame:
    e = derived_edges(spark, sf, materialize=True)
    return centrality2.katz_centrality(e, alpha=_KATZ_ALPHA, max_iter=_KATZ_ITER)


Q42_SQL = f"""
WITH RECURSIVE e AS ({E_SQL}),
nodes AS (SELECT DISTINCT id FROM
          (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
k(iter, id, katz) AS (
  SELECT 0, id, CAST(1.0 AS DOUBLE) FROM nodes
  UNION ALL
  SELECT it.iter + 1, n.id, 1.0 + {_KATZ_ALPHA} * COALESCE(c.s, 0.0)
  FROM (SELECT DISTINCT iter FROM k WHERE iter < {_KATZ_ITER}) it
  CROSS JOIN nodes n
  LEFT JOIN (
    SELECT e.dst AS id, SUM(k2.katz) AS s
    FROM k k2 JOIN e ON e.src = k2.id WHERE k2.iter < {_KATZ_ITER}
    GROUP BY e.dst
  ) c ON c.id = n.id
)
SELECT id, ROUND(katz, 6) AS katz FROM k WHERE iter = {_KATZ_ITER}
"""


def q43(spark: SparkSession, sf: str) -> DataFrame:
    eu = derived_edges_undirected(spark, sf)
    return centrality2.sfigality(eu)


Q43_SQL = f"""
WITH eu AS ({EU_SQL}),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM eu GROUP BY src)
SELECT eu.src AS id,
       ROUND(CAST(SUM(CASE WHEN dd.deg > ds.deg THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS sfigality
FROM eu JOIN deg ds ON ds.id = eu.src JOIN deg dd ON dd.id = eu.dst
GROUP BY eu.src
"""


def q44(spark: SparkSession, sf: str) -> DataFrame:
    eu = derived_edges_undirected(spark, sf)
    return centrality2.laplacian_centrality(eu)


Q44_SQL = f"""
WITH eu AS ({EU_SQL}),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM eu GROUP BY src),
nb AS (SELECT eu.src AS id, SUM(dd.deg) AS sum_nd
       FROM eu JOIN deg dd ON dd.id = eu.dst GROUP BY eu.src)
SELECT deg.id,
       CAST(deg.deg * deg.deg + deg.deg + 2 * COALESCE(nb.sum_nd, 0) AS BIGINT) AS lap
FROM deg LEFT JOIN nb ON nb.id = deg.id
"""


_MSBFS_SQL = f"""
b(s, id, dist) AS (
  SELECT id, id, 0 FROM nodes WHERE id < {_SAMPLE_CAP}
  UNION
  SELECT b.s, eu.dst, b.dist + 1
  FROM b JOIN eu ON eu.src = b.id WHERE b.dist < 20
),
d AS (SELECT s, id, MIN(dist) AS dist FROM b GROUP BY s, id)
"""


def q45(spark: SparkSession, sf: str) -> DataFrame:
    eu = derived_edges_undirected(spark, sf)
    return distances.eccentricity(eu, list(range(_SAMPLE_CAP)))


Q45_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu),
{_MSBFS_SQL}
SELECT s AS id, MAX(dist) AS eccentricity FROM d GROUP BY s
"""


def q46(spark: SparkSession, sf: str) -> DataFrame:
    eu = derived_edges_undirected(spark, sf)
    return centrality2.closeness_sampled(eu, list(range(_SAMPLE_CAP)))


Q46_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu),
{_MSBFS_SQL}
SELECT s AS id,
       ROUND((CAST(COUNT(*) AS DOUBLE) / SUM(dist))
             * (CAST(COUNT(*) AS DOUBLE)
                / ((SELECT COUNT(*) FROM nodes) - 1)), 6) AS closeness
FROM d WHERE dist > 0 GROUP BY s
"""


def q47(spark: SparkSession, sf: str) -> DataFrame:
    eu = derived_edges_undirected(spark, sf)
    return distances.diameter_double_sweep(eu, start=0)


Q47_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
b1(id, dist) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT eu.dst, b1.dist + 1 FROM b1 JOIN eu ON eu.src = b1.id WHERE b1.dist < 20
),
d1 AS (SELECT id, MIN(dist) AS dist FROM b1 GROUP BY id),
far AS (SELECT id FROM d1 ORDER BY dist DESC, id LIMIT 1),
b2(id, dist) AS (
  SELECT (SELECT id FROM far), 0
  UNION
  SELECT eu.dst, b2.dist + 1 FROM b2 JOIN eu ON eu.src = b2.id WHERE b2.dist < 20
),
d2 AS (SELECT id, MIN(dist) AS dist FROM b2 GROUP BY id)
SELECT CAST(MAX(dist) AS BIGINT) AS diameter_lb FROM d2
"""


_BTW_SOURCES = 8  # sources = node ids < cap (same convention as q45/q46)
_BTW_LEVELS = 12  # ≥ graph diameter at every tested SF; surplus levels
#                   are empty sets on both sides, so oversizing is safe


def q48(spark: SparkSession, sf: str) -> DataFrame:
    """Brandes betweenness from sampled sources (reference
    Betweenness.hpp:18 / EstimateBetweenness.hpp:23). Deterministic given
    the source set, so the DuckDB twin unrolls the same level-synchronous
    forward σ / backward δ accumulation — a full value oracle."""
    eu = derived_edges_undirected(spark, sf)
    return centrality2.betweenness_sampled(
        eu, list(range(_BTW_SOURCES)), max_hops=_BTW_LEVELS
    )


def _brandes_unrolled_sql(n_sources: int, levels: int) -> str:
    """Unrolled Brandes: forward BFS levels with path counts σ, then
    backward dependency accumulation δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w))."""
    parts = [
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM eu)",
        f"f0 AS MATERIALIZED (SELECT id AS s, id, CAST(1 AS DOUBLE) AS sigma "
        f"FROM nodes WHERE id < {n_sources})",
        "v0 AS MATERIALIZED (SELECT s, id FROM f0)",
    ]
    for l in range(1, levels + 1):
        parts.append(
            f"""f{l} AS MATERIALIZED (
  SELECT c.s, c.id, SUM(c.sigma) AS sigma FROM (
    SELECT f.s, eu.dst AS id, f.sigma
    FROM f{l-1} f JOIN eu ON eu.src = f.id
  ) c
  WHERE NOT EXISTS (SELECT 1 FROM v{l-1} v WHERE v.s = c.s AND v.id = c.id)
  GROUP BY c.s, c.id
)"""
        )
        parts.append(
            f"v{l} AS MATERIALIZED (SELECT s, id FROM v{l-1} "
            f"UNION ALL SELECT s, id FROM f{l})"
        )
    # backward: w{h} = level-h nodes with δ; contrib{h} keyed level-(h-1)
    parts.append(
        f"w{levels} AS MATERIALIZED (SELECT s, id, sigma, CAST(0 AS DOUBLE) AS delta "
        f"FROM f{levels})"
    )
    for h in range(levels, 0, -1):
        parts.append(
            f"""contrib{h} AS MATERIALIZED (
  SELECT p.s, p.id, SUM(p.sigma / w.sigma * (1.0 + w.delta)) AS delta
  FROM f{h-1} p JOIN eu ON eu.src = p.id
  JOIN w{h} w ON w.s = p.s AND w.id = eu.dst
  GROUP BY p.s, p.id
)"""
        )
        if h > 1:
            parts.append(
                f"w{h-1} AS MATERIALIZED (SELECT f.s, f.id, f.sigma, "
                f"COALESCE(c.delta, 0.0) AS delta "
                f"FROM f{h-1} f LEFT JOIN contrib{h} c "
                f"ON c.s = f.s AND c.id = f.id)"
            )
    all_contribs = " UNION ALL ".join(
        f"SELECT s, id, delta FROM contrib{h}" for h in range(1, levels + 1)
    )
    parts.append(f"allc AS ({all_contribs})")
    return ",\n".join(parts)


Q48_SQL = f"""
WITH eu AS MATERIALIZED ({EU_SQL}),
{_brandes_unrolled_sql(_BTW_SOURCES, _BTW_LEVELS)}
SELECT id, ROUND(SUM(delta), 6) AS betweenness
FROM allc WHERE id <> s GROUP BY id
"""


_EIG_ITER = 15


def q49(spark: SparkSession, sf: str) -> DataFrame:
    """Shifted power iteration (A + I) with per-round L2 normalization
    (reference EigenvectorCentrality.hpp:20). Fixed iteration count and
    deterministic arithmetic → the DuckDB twin unrolls the same rounds —
    a full value oracle."""
    eu = derived_edges_undirected(spark, sf)
    return centrality2.eigenvector_centrality(eu, max_iter=_EIG_ITER)


def _power_iter_unrolled_sql(iters: int) -> str:
    parts = [
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM eu)",
        "x0 AS MATERIALIZED (SELECT id, CAST(1 AS DOUBLE) AS v FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""y{i} AS MATERIALIZED (
  SELECT x.id, x.v + COALESCE(nb.sm, 0.0) AS y
  FROM x{i-1} x LEFT JOIN (
    SELECT eu.dst AS id, SUM(x2.v) AS sm
    FROM eu JOIN x{i-1} x2 ON x2.id = eu.src GROUP BY eu.dst
  ) nb ON nb.id = x.id
)"""
        )
        parts.append(
            f"x{i} AS MATERIALIZED (SELECT id, y / (SELECT SQRT(SUM(y * y)) FROM y{i}) AS v "
            f"FROM y{i})"
        )
    return ",\n".join(parts)


Q49_SQL = f"""
WITH eu AS MATERIALIZED ({EU_SQL}),
{_power_iter_unrolled_sql(_EIG_ITER)}
SELECT id, ROUND(v, 6) AS eigen FROM x{_EIG_ITER}
"""


def q50(spark: SparkSession, sf: str) -> DataFrame:
    eu = derived_edges_undirected(spark, sf)
    return distances.effective_diameter(
        eu, list(range(_SAMPLE_CAP)), ratio=0.9, max_h=8
    )


Q50_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu),
b(s, id, dist) AS (
  SELECT id, id, 0 FROM nodes WHERE id < {_SAMPLE_CAP}
  UNION
  SELECT b.s, eu.dst, b.dist + 1
  FROM b JOIN eu ON eu.src = b.id WHERE b.dist < 8
),
d AS (SELECT s, id, MIN(dist) AS dist FROM b GROUP BY s, id),
nf AS (SELECT h, COUNT(*) AS n_pairs
       FROM range(1, 9) t(h) JOIN d ON d.dist <= t.h AND d.dist > 0
       GROUP BY h),
tot AS (SELECT MAX(n_pairs) AS total FROM nf)
SELECT CAST(MIN(h) AS BIGINT) AS effective_diameter
FROM nf CROSS JOIN tot WHERE n_pairs >= 0.9 * total
"""


def q51(spark: SparkSession, sf: str) -> DataFrame:
    """Algebraic distance invariants (hash-seeded Jacobi vectors are not
    SQL-expressible; the checkable claims): one row per symmetrized arc,
    all distances finite and non-negative, and symmetric — ad(u,v) must
    equal ad(v,u) exactly. The arc count is SQL-computable."""
    eu = derived_edges_undirected(spark, sf)
    ad = checkpoint(distances.algebraic_distance(eu, n_systems=2, rounds=3))
    sym_mismatch = (
        ad.alias("a")
        .join(
            ad.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                F.col("alg_dist").alias("rev"),
            ),
            ["src", "dst"],
        )
        .where(F.col("alg_dist") != F.col("rev"))
        .count()
    )
    return ad.agg(
        F.count(F.lit(1)).alias("n_arcs"),
        F.min(F.col("alg_dist") >= 0).alias("all_nonneg"),
        F.min(~F.isnan("alg_dist") & ~F.col("alg_dist").isNull()).alias("all_finite"),
        F.lit(sym_mismatch == 0).alias("symmetric"),
    )


Q51_SQL = f"""
SELECT (SELECT COUNT(*) FROM ({EU_SQL})) AS n_arcs,
       TRUE AS all_nonneg, TRUE AS all_finite, TRUE AS symmetric
"""


def q97(spark: SparkSession, sf: str) -> DataFrame:
    """KADABRA adaptive betweenness ε-bound check (reference
    centrality/KadabraBetweenness.hpp:82): on an id-capped subgraph,
    every node's estimate must lie within its own reported Chernoff
    bound (+small-sample slack) of the EXACT Brandes probability
    bc(v)/(n(n-1)) computed by the engine's exact path — a wrong sampler,
    wrong normalization, or wrong bound formula flips the boolean."""
    from icebug_spark.operators.centrality2 import betweenness_sampled
    from icebug_spark.operators.centrality4 import kadabra_betweenness

    # cap 80 / 3 rounds (was 120 / 4): the ε-bound check needs EXACT
    # Brandes over every node as truth, which scales with both the id cap
    # and the sampler's round budget — the smaller certificate instance
    # exercises the identical adaptive-sampling code for ~2.5x less sweep
    # budget, and the bound formula is dimension-free. The pre-cap
    # instance (120 nodes / 4 adaptive rounds — deeper convergence path)
    # stays reachable via SPARK_GRAFT_FULLSCALE=1 (see queries/algebraicq
    # for the periodic slow-sweep recipe).
    from icebug_spark.queries.algebraicq import FULLSCALE

    id_cap, rounds = (120, 4) if FULLSCALE else (80, 3)
    eu = checkpoint(
        derived_edges_undirected(spark, sf)
        .where((F.col("src") < id_cap) & (F.col("dst") < id_cap))
    )
    kb = checkpoint(kadabra_betweenness(
        eu, err=0.1, delta=0.1, max_rounds=rounds
    ))
    ids = [r[0] for r in eu.select(F.col("src").alias("id")).distinct().collect()]
    n = len(ids)
    exact = betweenness_sampled(eu, ids, max_hops=12).select(
        "id", (F.col("betweenness") / (n * (n - 1))).alias("bc_exact")
    )
    j = kb.join(exact, "id", "left").na.fill({"bc_exact": 0.0})
    bad_bound = F.when(
        F.abs(F.col("kadabra_bc") - F.col("bc_exact"))
        > F.greatest("err_lower", "err_upper") + F.lit(0.05),
        1,
    ).otherwise(0)
    bad_sign = F.when(
        (F.col("err_lower") < 0) | (F.col("err_upper") < 0), 1
    ).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).alias("n_nodes_checked"),
        F.sum(bad_bound).alias("n_out"),
        F.sum(bad_sign).alias("n_neg"),
    ).select(
        (F.col("n_nodes_checked") > 0).alias("nonempty"),
        (F.col("n_out") == 0).alias("within_bounds_ok"),
        (F.col("n_neg") == 0).alias("bounds_nonneg_ok"),
    )


Q97_SQL = """
SELECT TRUE AS nonempty, TRUE AS within_bounds_ok, TRUE AS bounds_nonneg_ok
"""


def q112(spark: SparkSession, sf: str) -> DataFrame:
    """ApproxGroupBetweenness greedy max-coverage certificate (reference
    centrality/ApproxGroupBetweenness.hpp:19). Checkable claims of the
    hash-seeded sampler+greedy: (a) marginal path coverage is
    non-increasing over greedy rounds (submodularity of coverage — a
    broken anti-join of covered paths flips this), (b) every chosen id is
    a node of the subgraph, (c) total coverage cannot exceed the sample
    budget, (d) the group is nonempty and within size k."""
    from icebug_spark.operators.centrality4 import approx_group_betweenness

    eu = checkpoint(
        derived_edges_undirected(spark, sf)
        .where((F.col("src") < 150) & (F.col("dst") < 150))
    )
    k, max_samples = 4, 80
    g = checkpoint(approx_group_betweenness(
        eu, k=k, eps=0.1, delta=0.1, max_samples=max_samples
    ))
    nxt = g.select(
        "round", F.col("covered_paths").alias("gain")
    ).withColumnRenamed("round", "r2")
    dec_bad = (
        g.join(nxt, g["round"] + 1 == nxt["r2"])
        .where(F.col("gain") > F.col("covered_paths"))
        .count()
    )
    not_node = (
        g.join(eu.select(F.col("src").alias("id")).distinct(), "id", "left_anti")
        .count()
    )
    return g.agg(
        (F.count(F.lit(1)) >= 1).alias("nonempty"),
        (F.count(F.lit(1)) <= k).alias("within_k"),
        F.lit(dec_bad == 0).alias("gains_nonincreasing"),
        F.lit(not_node == 0).alias("members_are_nodes"),
        (F.sum("covered_paths") <= max_samples).alias("coverage_in_budget"),
    )


Q112_SQL = """
SELECT TRUE AS nonempty, TRUE AS within_k, TRUE AS gains_nonincreasing,
       TRUE AS members_are_nodes, TRUE AS coverage_in_budget
"""


CENTRAL = {
    "q42_katz": (q42, Q42_SQL),
    "q43_sfigality": (q43, Q43_SQL),
    "q44_laplacian_centrality": (q44, Q44_SQL),
    "q45_eccentricity_sample": (q45, Q45_SQL),
    "q46_closeness_sample": (q46, Q46_SQL),
    "q47_diameter_double_sweep": (q47, Q47_SQL),
    "q48_betweenness_sample": (q48, Q48_SQL),
    "q49_eigenvector": (q49, Q49_SQL),
    "q50_effective_diameter": (q50, Q50_SQL),
    "q51_algebraic_distance": (q51, Q51_SQL),
    "q97_kadabra_betweenness": (q97, Q97_SQL),
    "q112_approx_group_betweenness": (q112, Q112_SQL),
}
