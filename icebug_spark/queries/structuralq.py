"""Structural-operator query entries: SCC, MSF, MIS, matching.

SCC carries a full value oracle (mutual-reachability closure — fine at
sf0.01, while the engine's coloring algorithm is the 100 TB path).
MSF/MIS/matching have engine tie-breaks, so their *values* aren't
SQL-reproducible — instead each emits a PROPERTY-CHECK row: the Spark
side verifies the defining invariants of its own output through
independent DataFrame computations (CC of the forest, edge/anti joins for
independence/maximality/matching validity) plus counts the oracle can
derive on its own (n - c for a spanning forest). The DuckDB twin emits
the expected invariant values, so a violated property hash-mismatches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.catalog import (
    derived_edges_undirected,
    E_SQL,
    EU_SQL,
    EW_SQL,
    derived_edges,
    derived_weighted_edges,
    symmetrize,
)
from icebug_spark.operators.components import connected_components
from icebug_spark.operators.independent import luby_mis
from icebug_spark.operators.matching import local_max_matching
from icebug_spark.operators.msf import boruvka_msf
from icebug_spark.operators.scc import strongly_connected_components
from icebug_spark.plans.iterate import checkpoint

# Shared CC-count fragment: recursive min-label closure over eu.
_CC_SQL = """
reach(node, label) AS (
  SELECT src, src FROM eu
  UNION
  SELECT eu.dst, r.label FROM reach r JOIN eu ON eu.src = r.node
  WHERE r.label < eu.dst
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
cc AS (SELECT COUNT(DISTINCT component) AS c, COUNT(*) AS n FROM comp)
"""


def q38(spark: SparkSession, sf: str) -> DataFrame:
    e = derived_edges(spark, sf, materialize=True)
    return strongly_connected_components(e).select("id", "component")


Q38_SQL = f"""
WITH RECURSIVE e AS (
  SELECT src, dst FROM ({E_SQL}) WHERE src <> dst
),
reach(a, b) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
),
nodes AS (SELECT DISTINCT id FROM
          (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)),
mutual AS (
  SELECT r1.a AS u, r1.b AS v
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT n.id, GREATEST(n.id, COALESCE(MAX(m.v), n.id)) AS component
FROM nodes n LEFT JOIN mutual m ON m.u = n.id
GROUP BY n.id
"""


def q39(spark: SparkSession, sf: str) -> DataFrame:
    """Borůvka MSF property check (reference graph/SpanningForest.hpp:20).

    Emits (n_nodes, n_components, n_msf_edges, forest_spanning_ok): the
    forest invariant |E_msf| = n − c(G) together with c(MSF) = c(G)
    implies the output is an acyclic spanning forest (components(F) ≥
    n − |F| with equality iff acyclic; F ⊆ E makes components(F) refine
    components(G)). c(MSF) is recomputed with the engine's CC operator —
    an independent code path from Borůvka. The oracle derives n and c(G)
    itself and expects n − c edges + TRUE."""
    ew = checkpoint(derived_weighted_edges(spark, sf))
    eu = checkpoint(symmetrize(ew.select("src", "dst")))
    msf = checkpoint(boruvka_msf(ew))

    cc_g = connected_components(eu)
    n_nodes = cc_g.count()
    c_graph = cc_g.select("component").distinct().count()
    n_msf = msf.count()

    msf_sym = symmetrize(msf.select("src", "dst"))
    covered = msf_sym.select(F.col("src").alias("id")).distinct()
    n_isolated = n_nodes - covered.count()
    c_msf_edges = (
        connected_components(msf_sym).select("component").distinct().count()
        if n_msf > 0
        else 0
    )
    c_msf = c_msf_edges + n_isolated
    ok = bool(c_msf == c_graph and n_msf == n_nodes - c_graph)
    return spark.createDataFrame(
        [(n_nodes, c_graph, n_msf, ok)],
        "n_nodes BIGINT, n_components BIGINT, n_msf_edges BIGINT, "
        "forest_spanning_ok BOOLEAN",
    )


Q39_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
{_CC_SQL}
SELECT n AS n_nodes, c AS n_components,
       n - c AS n_msf_edges, TRUE AS forest_spanning_ok
FROM cc
"""


def q40(spark: SparkSession, sf: str) -> DataFrame:
    """Luby MIS property check (reference independentset/Luby.hpp:20).

    Emits (independent_ok, maximal_ok, nonempty): independence = no graph
    edge with both endpoints in the set (semi-join × semi-join must be
    empty); maximality = every node outside the set has a neighbor inside
    (anti-join of non-members against N(set) must be empty). Both checks
    are plain joins over the engine's own output — a wrong set flips a
    boolean and hash-mismatches the oracle's expected (TRUE, TRUE, TRUE)."""
    eu = checkpoint(derived_edges_undirected(spark, sf))
    mis = checkpoint(luby_mis(eu))
    nodes = eu.select(F.col("src").alias("id")).distinct()

    mis_src = mis.withColumnRenamed("id", "src")
    mis_dst = mis.withColumnRenamed("id", "dst")
    internal = (
        eu.join(mis_src, "src", "leftsemi").join(mis_dst, "dst", "leftsemi").count()
    )
    outside = nodes.join(mis, "id", "left_anti")
    # neighbors of the MIS
    nbrs = eu.join(mis_src, "src", "leftsemi").select(F.col("dst").alias("id"))
    uncovered = outside.join(nbrs, "id", "left_anti").count()
    n_mis = mis.count()
    return spark.createDataFrame(
        [(internal == 0, uncovered == 0, n_mis > 0)],
        "independent_ok BOOLEAN, maximal_ok BOOLEAN, nonempty BOOLEAN",
    )


Q40_SQL = """
SELECT TRUE AS independent_ok, TRUE AS maximal_ok, TRUE AS nonempty
"""


def q41(spark: SparkSession, sf: str) -> DataFrame:
    """Local-max matching property check (reference
    matching/LocalMaxMatcher.hpp:20, Matching.hpp:16).

    Emits (valid_matching, edges_in_graph, maximal_ok, nonempty):
    valid = no node appears in two matched pairs; edges_in_graph = every
    matched pair is a real edge; maximal = no graph edge has both
    endpoints unmatched (local-max produces a maximal matching). Oracle
    expects all TRUE."""
    ew = checkpoint(derived_weighted_edges(spark, sf))
    m = checkpoint(local_max_matching(ew))

    endpoints = m.select(F.col("u").alias("id")).union(
        m.select(F.col("v").alias("id"))
    )
    dup = endpoints.groupBy("id").count().where(F.col("count") > 1).count()

    canon = ew.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    not_edges = m.select("u", "v").join(canon, ["u", "v"], "left_anti").count()

    matched = endpoints.distinct()
    unmatched_both = (
        canon.join(matched.withColumnRenamed("id", "u"), "u", "left_anti")
        .join(matched.withColumnRenamed("id", "v"), "v", "left_anti")
        .count()
    )
    n_pairs = m.count()
    return spark.createDataFrame(
        [(dup == 0, not_edges == 0, unmatched_both == 0, n_pairs > 0)],
        "valid_matching BOOLEAN, edges_in_graph BOOLEAN, maximal_ok BOOLEAN, "
        "nonempty BOOLEAN",
    )


Q41_SQL = """
SELECT TRUE AS valid_matching, TRUE AS edges_in_graph, TRUE AS maximal_ok,
       TRUE AS nonempty
"""




# q111 — left-right planarity on the full derived graph. The oracle-checked
# column is `euler_violated` (m > 3n − 6), which is a one-directional
# certificate: violated ⇒ non-planar, but NOT violated does not imply
# planar (K5 subdivisions satisfy the bound), so the LR-test verdict stays
# engine-side, cross-checked against the certificate when it applies.
def q111(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.planarity import is_planar

    eu = derived_edges_undirected(spark, sf)
    canon = (
        eu.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    n = eu.select(F.col("src").alias("id")).distinct().count()
    m = canon.count()
    euler_violated = (n >= 3) and (m > 3 * n - 6)
    planar = is_planar(eu, max_edges=5_000_000)
    if euler_violated and planar:
        raise AssertionError(
            f"LR test claims planar but Euler bound is violated (n={n}, m={m})"
        )
    return spark.createDataFrame(
        [(n, m, bool(euler_violated))],
        "n_nodes BIGINT, n_edges BIGINT, euler_violated BOOLEAN",
    )


Q111_SQL = f"""
WITH eu AS ({EU_SQL}),
canon AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM eu),
c AS (SELECT (SELECT COUNT(DISTINCT src) FROM eu) AS n,
             (SELECT COUNT(*) FROM canon) AS m)
SELECT n AS n_nodes, m AS n_edges, (n >= 3 AND m > 3 * n - 6) AS euler_violated FROM c
"""


# q113 — maxent-stress layout (viz/MaxentStress.hpp:39). The coordinates
# are float/hash-iteration artifacts with no SQL twin; the oracle-checked
# claims: every subgraph node gets exactly one dim-2 finite coordinate
# (n_placed is cross-checked as a VALUE against the SQL node count) and
# the layout has positive spread (not collapsed to a point).
def q113(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.layout import maxent_stress

    from icebug_spark.operators.layout import pivot_mds

    eu = checkpoint(
        derived_edges_undirected(spark, sf)
        .where((F.col("src") < 120) & (F.col("dst") < 120))
    )
    # small pivot count + few anneal rounds: the certificate checks shape
    # invariants, not layout quality — keep it inside the sweep budget
    init = pivot_mds(eu, dim=2, num_pivots=8)
    out = checkpoint(maxent_stress(
        eu, dim=2, iterations=3, sample_size=24, init=init
    ))
    per = out.select(
        "id",
        F.size("coords").alias("d"),
        F.expr(
            "aggregate(coords, true, (acc, v) -> acc AND NOT isnan(v) AND v IS NOT NULL)"
        ).alias("fin"),
        F.element_at("coords", 1).alias("x0"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_placed"),
        F.min(F.col("d") == 2).alias("all_dim2"),
        F.min("fin").alias("all_finite"),
        (F.stddev("x0") > 0).alias("spread_positive"),
    )


Q113_SQL = f"""
WITH eu AS (SELECT * FROM ({EU_SQL}) WHERE src < 120 AND dst < 120)
SELECT (SELECT COUNT(DISTINCT src) FROM eu) AS n_placed,
       TRUE AS all_dim2, TRUE AS all_finite, TRUE AS spread_positive
"""


# q147 — Gini coefficient of the degree distribution (stats.pyx:16),
# FULL VALUE: the rank form G = 2·Σ rᵢxᵢ/(n·Σx) − (n+1)/n is exactly
# the reference's sorted prefix-area loop; ties contribute identically
# under any tie order (consecutive ranks, equal values), so Spark's and
# DuckDB's window sorts agree to the last bit. 6dp.
def q147(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.stats import gini

    deg = (
        derived_edges_undirected(spark, sf)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return gini(deg, "d").select(F.round("gini", 6).alias("gini"))


Q147_SQL = f"""
WITH eu AS MATERIALIZED ({EU_SQL}),
deg AS (SELECT src AS id, COUNT(*) AS d FROM eu GROUP BY src),
r AS (SELECT CAST(d AS DOUBLE) AS x,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS r FROM deg)
SELECT ROUND(2.0 * SUM(r * x) / (COUNT(*) * SUM(x))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
FROM r
"""


# q148 — SpectralColoring (networkit/coloring.py:6) certificate on the
# id%5 subgraph: the eigenvector-sign recursion must emit a VALID
# coloring (no monochromatic edge) covering every node; eigensign
# conventions make the labels themselves non-portable, so the oracle is
# the invariant.
def q148(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.stats import spectral_coloring

    # src != dst: EU carries self-loops (customer id == supplier id);
    # a loop is uncolorable and the operator drops them too
    eu = checkpoint(derived_edges_undirected(spark, sf).where(
        (F.col("src") % 5 == 0) & (F.col("dst") % 5 == 0)
        & (F.col("src") != F.col("dst"))
    ))
    col = checkpoint(spectral_coloring(eu))
    cu = col.select(F.col("id").alias("src"), F.col("color").alias("cu"))
    cv = col.select(F.col("id").alias("dst"), F.col("color").alias("cv"))
    # one certificate job instead of four sequential scalar actions
    # (mono count, node count, coverage count, color count) — the four
    # aggregates are independent 1-row subtrees crossJoined into one plan
    mono_df = (
        eu.join(cu, "src").join(cv, "dst")
        .where(F.col("cu") == F.col("cv"))
        .agg(F.count(F.lit(1)).alias("mono"))
    )
    nn_df = eu.select("src").distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
    col_df = col.agg(
        F.count(F.lit(1)).alias("n_col"),
        F.countDistinct("color").alias("n_colors"),
    )
    row = mono_df.crossJoin(nn_df).crossJoin(col_df).collect()[0]
    return spark.createDataFrame(
        [
            (
                row["mono"] == 0,
                bool(row["n_col"] == row["n_nodes"]),
                row["n_colors"] >= 2,
            )
        ],
        "valid BOOLEAN, covers_all BOOLEAN, multiple_colors BOOLEAN",
    )


Q148_SQL = (
    "SELECT TRUE AS valid, TRUE AS covers_all, TRUE AS multiple_colors"
)


# q149 — approximate average local clustering (globals.pyx:109,
# Schank-Wagner sampling) certificate: the hash-seeded sampler is
# deterministic but not SQL-reproducible; the invariant is agreement
# with the exact average within 3x the stated error plus range bounds.
def q149(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.catalog import derived_canonical_edges, derived_triangle_kernel
    from icebug_spark.operators.stats import approx_avg_local_clustering
    from icebug_spark.operators.triangles import local_clustering_coefficient

    eu = derived_edges_undirected(spark, sf)
    exact = (
        local_clustering_coefficient(
            eu,
            canon=derived_canonical_edges(spark, sf),
            kernel=derived_triangle_kernel(spark, sf),
        )
        .agg(F.avg("lcc"))
        .collect()[0][0]
    )
    approx = approx_avg_local_clustering(eu, trials=4000).collect()[0]["avg_cc"]
    return spark.createDataFrame(
        [
            (
                0.0 <= approx <= 1.0,
                abs(approx - float(exact)) <= 0.05,
            )
        ],
        "in_range BOOLEAN, near_exact BOOLEAN",
    )


Q149_SQL = "SELECT TRUE AS in_range, TRUE AS near_exact"


# q150 — k-eigenpair utility (networkit/algebraic.py:140
# symmetricEigenvectors, :242 laplacianEigenvectors; operators/
# spectrum.py) certificate on the id%5 subgraph: eigensign conventions
# make raw vectors non-portable, so the oracle pins hard invariants,
# each checked by an INDEPENDENT computation: (1) eigenvalues ascending
# with lambda_1 ~ 0; (2) the number of ~zero Laplacian eigenvalues
# equals the number of connected components from the DISTRIBUTED CC
# operator (two unrelated implementations agreeing on the kernel
# dimension); (3) every returned vector is unit-norm with a small
# Laplacian residual against a numpy rebuild of L from the same edges.
def q150(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np

    from icebug_spark.operators.spectrum import laplacian_eigenvectors

    eu = checkpoint(derived_edges_undirected(spark, sf).where(
        (F.col("src") % 5 == 0) & (F.col("dst") % 5 == 0)
        & (F.col("src") != F.col("dst"))
    ))
    vals, vec_df = laplacian_eigenvectors(eu)
    n_cc = (
        connected_components(eu)
        .select("component").distinct().count()
    )
    ascending = all(vals[i] <= vals[i + 1] + 1e-9 for i in range(len(vals) - 1))
    n_zero = sum(1 for v in vals if abs(v) < 1e-8)
    rows = vec_df.collect()
    ids = [r["id"] for r in rows]
    idx = {v: i for i, v in enumerate(ids)}
    mat = np.array([r["vec"] for r in rows])
    lap = np.zeros((len(ids), len(ids)))
    for r in eu.collect():
        i, j = idx[r["src"]], idx[r["dst"]]
        lap[i, j] -= 1.0
        lap[i, i] += 1.0
    resid_ok = True
    for k, lam in enumerate(vals):
        v = mat[:, k]
        nrm = float(np.linalg.norm(v))
        if abs(nrm - 1.0) > 1e-8:
            resid_ok = False
        if float(np.linalg.norm(lap @ v - lam * v)) > 1e-7 * max(1.0, abs(lam)) * len(ids):
            resid_ok = False
    return spark.createDataFrame(
        [(bool(ascending), abs(vals[0]) < 1e-9, n_zero == n_cc, bool(resid_ok))],
        "ascending BOOLEAN, first_zero BOOLEAN, kernel_matches_cc BOOLEAN, "
        "residuals_small BOOLEAN",
    )


Q150_SQL = (
    "SELECT TRUE AS ascending, TRUE AS first_zero, "
    "TRUE AS kernel_matches_cc, TRUE AS residuals_small"
)



# q151 — profiling correlation battery (profiling/stat.py:418
# Correlation.run + helpers.pyx:21 ranked), FULL VALUE: Pearson,
# Spearman (Pearson over average ranks — the reference's tie-mean
# ranking), and Fechner between per-node degree and weighted degree on
# the derived weighted graph. The oracle repeats the exact arithmetic in
# SQL (RANK + tie-count windows for average ranks, COVAR_POP /
# STDDEV_POP, copysign-semantics CASE for Fechner); any divergence in
# the rank convention or the population-vs-sample denominators flips
# values. Scale-invariant outputs only (the raw covariances stay in the
# operator), 6dp.
def q151(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.stats import measure_correlations

    ew = derived_weighted_edges(spark, sf)
    per = ew.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("double").alias("deg"),
        F.sum("weight").alias("wdeg"),
    )
    return measure_correlations(per, "deg", "wdeg").select(
        "pearson", "spearman", "fechner"
    )


Q151_SQL = f"""
WITH ew AS MATERIALIZED ({EW_SQL}),
per AS (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS a, SUM(weight) AS b
        FROM ew GROUP BY src),
r AS (SELECT a, b,
        RANK() OVER (ORDER BY a) + (COUNT(*) OVER (PARTITION BY a) - 1) / 2.0 AS ra,
        RANK() OVER (ORDER BY b) + (COUNT(*) OVER (PARTITION BY b) - 1) / 2.0 AS rb
      FROM per),
s AS (SELECT AVG(a) AS ma, AVG(b) AS mb,
             STDDEV_POP(a) AS sa, STDDEV_POP(b) AS sb,
             STDDEV_POP(ra) AS sra, STDDEV_POP(rb) AS srb,
             COVAR_POP(a, b) AS cov, COVAR_POP(ra, rb) AS cov_rank
      FROM r),
f AS (SELECT AVG(CASE WHEN (r.a - s.ma) * (r.b - s.mb) >= 0
                      THEN 1.0 ELSE -1.0 END) AS fech
      FROM r, s)
SELECT ROUND(CASE WHEN sa * sb <> 0 THEN cov / (sa * sb) END, 6) AS pearson,
       ROUND(CASE WHEN sra * srb <> 0 THEN cov_rank / (sra * srb) END, 6)
         AS spearman,
       ROUND(fech, 6) AS fechner
FROM s, f
"""


STRUCTURAL = {
    "q38_scc": (q38, Q38_SQL),
    "q39_msf_summary": (q39, Q39_SQL),
    "q40_luby_mis_size": (q40, Q40_SQL),
    "q41_matching_summary": (q41, Q41_SQL),
    "q111_planarity_check": (q111, Q111_SQL),
    "q113_maxent_layout": (q113, Q113_SQL),
    "q147_gini_degrees": (q147, Q147_SQL),
    "q148_spectral_coloring": (q148, Q148_SQL),
    "q149_approx_clustering": (q149, Q149_SQL),
    "q150_laplacian_eigs": (q150, Q150_SQL),
    "q151_measure_correlations": (q151, Q151_SQL),
}
