"""Community part-3 query entries: modularity edge scoring, overlapping
NMI, sampled Rand measures, dynamic NMI (full DuckDB oracles), plus the
iterative detectors LPDegreeOrdered / ParallelAgglomerative /
CutClustering (rows-only — engine-defined iteration order; exactness is
covered by tests/test_community3.py goldens).

Oracle regimes are chosen so the sampled operators become exact (sample
size >= population) — the SQL twin then checks VALUES, not just shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.catalog import EU_SQL, derived_edges, derived_edges_undirected
from icebug_spark.operators import community3
from icebug_spark.plans.iterate import checkpoint


def _eu(spark: SparkSession, sf: str) -> DataFrame:
    return derived_edges_undirected(spark, sf)


def _nodes(eu: DataFrame) -> DataFrame:
    return eu.select(F.col("src").alias("id")).distinct()


# ------------------------------------------------ q98 modularity scoring


def q98(spark: SparkSession, sf: str) -> DataFrame:
    """Δmodularity edge score on the unweighted undirected derived graph
    (reference scoring/ModularityScoring.hpp:60-90); top-500 arcs by
    score for a bounded, fully-ordered result."""
    eu = checkpoint(_eu(spark, sf))
    scored = community3.modularity_scoring(eu)
    return (
        scored.select("src", "dst", F.round("score", 9).alias("score"))
        .orderBy(F.desc("score"), "src", "dst")
        .limit(500)
    )


Q98_SQL = f"""
WITH eu AS ({EU_SQL}),
wdeg AS (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS wdeg FROM eu GROUP BY src),
vol AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vol FROM eu)
SELECT e.src, e.dst,
       ROUND(2.0 * (1.0 / vol - (du.wdeg / vol) * (dv.wdeg / vol)), 9) AS score
FROM eu e
JOIN wdeg du ON du.id = e.src
JOIN wdeg dv ON dv.id = e.dst
CROSS JOIN vol
ORDER BY score DESC, e.src, e.dst
LIMIT 500
"""


# ------------------------------------------------ q99 overlapping NMI


def _covers(nodes: DataFrame):
    """Deterministic overlapping covers: X = id%4 plus an extra membership
    4+(id%2) for ids divisible by 10; Y = id%3 plus 3+(id%2) for ids
    divisible by 7."""
    cx = nodes.select("id", (F.col("id") % 4).alias("subset")).union(
        nodes.where(F.col("id") % 10 == 0).select(
            "id", (F.lit(4) + F.col("id") % 2).alias("subset")
        )
    )
    cy = nodes.select("id", (F.col("id") % 3).alias("subset")).union(
        nodes.where(F.col("id") % 7 == 0).select(
            "id", (F.lit(3) + F.col("id") % 2).alias("subset")
        )
    )
    return cx, cy


def q99(spark: SparkSession, sf: str) -> DataFrame:
    """McDaid-Greene-Hurley overlapping-NMI distance (MAX normalization)
    between two deterministic hash covers of the derived graph's nodes —
    full value oracle (reference community/OverlappingNMIDistance.cpp)."""
    eu = _eu(spark, sf)
    nodes = checkpoint(_nodes(eu))
    n = nodes.count()
    cx, cy = _covers(nodes)
    return community3.overlapping_nmi_distance(cx, cy, n, normalization="max")


# h(w) = -w*log2(w/n) for w>0 else 0; ent(s)=h(s)+h(n-s); the macros are
# textually expanded below (DuckDB has no scalar UDF in the oracle).
def _H(w: str) -> str:
    return (
        f"CASE WHEN ({w}) > 0 THEN -CAST({w} AS DOUBLE)"
        f" * LOG2(CAST({w} AS DOUBLE) / n) ELSE 0.0 END"
    )


def _ENT(s: str) -> str:
    return f"({_H(s)} + {_H(f'n - ({s})')})"


Q99_SQL = f"""
WITH eu AS ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
cx AS (SELECT id, id % 4 AS i FROM nodes
       UNION ALL SELECT id, 4 + id % 2 AS i FROM nodes WHERE id % 10 = 0),
cy AS (SELECT id, id % 3 AS j FROM nodes
       UNION ALL SELECT id, 3 + id % 2 AS j FROM nodes WHERE id % 7 = 0),
sx AS (SELECT i, COUNT(*) AS xi FROM cx GROUP BY i),
sy AS (SELECT j, COUNT(*) AS yj FROM cy GROUP BY j),
inter AS (SELECT cx.i, cy.j, COUNT(*) AS nij
          FROM cx JOIN cy USING (id) GROUP BY cx.i, cy.j),
hx AS (SELECT SUM({_ENT('xi')}) AS hx FROM sx CROSS JOIN nn),
hy AS (SELECT SUM({_ENT('yj')}) AS hy FROM sy CROSS JOIN nn),
pairs AS (
  SELECT inter.i, inter.j,
         CASE WHEN {_H('n + nij - xi - yj')} + {_H('nij')}
                   >= {_H('yj - nij')} + {_H('xi - nij')}
              THEN {_H('n + nij - xi - yj')} + {_H('yj - nij')}
                   + {_H('xi - nij')} + {_H('nij')} - {_ENT('yj')}
              ELSE {_ENT('xi')} END AS adj_xy,
         CASE WHEN {_H('n + nij - xi - yj')} + {_H('nij')}
                   >= {_H('yj - nij')} + {_H('xi - nij')}
              THEN {_H('n + nij - xi - yj')} + {_H('yj - nij')}
                   + {_H('xi - nij')} + {_H('nij')} - {_ENT('xi')}
              ELSE {_ENT('yj')} END AS adj_yx
  FROM inter JOIN sx USING (i) JOIN sy USING (j) CROSS JOIN nn),
cond_x AS (SELECT SUM(LEAST(COALESCE(m.m, {_ENT('xi')}), {_ENT('xi')})) AS cx
           FROM sx LEFT JOIN (SELECT i, MIN(adj_xy) AS m FROM pairs GROUP BY i) m
           USING (i) CROSS JOIN nn),
cond_y AS (SELECT SUM(LEAST(COALESCE(m.m, {_ENT('yj')}), {_ENT('yj')})) AS cy
           FROM sy LEFT JOIN (SELECT j, MIN(adj_yx) AS m FROM pairs GROUP BY j) m
           USING (j) CROSS JOIN nn),
mi AS (SELECT 0.5 * (hx - cx + hy - cy) AS mi
       FROM hx CROSS JOIN hy CROSS JOIN cond_x CROSS JOIN cond_y)
SELECT ROUND(1.0 - LEAST(GREATEST(mi / GREATEST(hx, hy), 0.0), 1.0), 6)
       AS onmi_distance
FROM mi CROSS JOIN hx CROSS JOIN hy
"""


# ---------------------------------- q100/q101 sampled Rand measures


def q100(spark: SparkSession, sf: str) -> DataFrame:
    """SampledNodeStructuralRandMeasure in the exact regime: the node
    population is id-capped at 60 and max_samples covers it entirely, so
    the sampled estimate equals the exact Rand distance between the id%5
    and id%4 hash partitions — full value oracle."""
    eu = _eu(spark, sf)
    nodes = checkpoint(_nodes(eu).where(F.col("id") < 60))
    pa = nodes.select("id", (F.col("id") % 5).alias("subset"))
    pb = nodes.select("id", (F.col("id") % 4).alias("subset"))
    return community3.node_structural_rand_sampled(pa, pb, max_samples=5200)


Q100_SQL = f"""
WITH eu AS ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu WHERE src < 60)
SELECT ROUND(1.0 - AVG(CASE WHEN (l.id % 5 = r.id % 5) = (l.id % 4 = r.id % 4)
                            THEN 1.0 ELSE 0.0 END), 6) AS rand_distance
FROM nodes l JOIN nodes r ON l.id < r.id
"""


def q101(spark: SparkSession, sf: str) -> DataFrame:
    """SampledGraphStructuralRandMeasure in the exact regime (max_samples
    >= |edges|): Rand distance over every connected pair src<dst between
    the id%6 and id%4 partitions — full value oracle."""
    eu = checkpoint(_eu(spark, sf))
    nodes = _nodes(eu)
    pa = nodes.select("id", (F.col("id") % 6).alias("subset"))
    pb = nodes.select("id", (F.col("id") % 4).alias("subset"))
    return community3.graph_structural_rand_sampled(
        eu, pa, pb, max_samples=1_000_000_000
    )


Q101_SQL = f"""
WITH eu AS ({EU_SQL})
SELECT ROUND(1.0 - AVG(CASE WHEN (src % 6 = dst % 6) = (src % 4 = dst % 4)
                            THEN 1.0 ELSE 0.0 END), 6) AS rand_distance
FROM eu WHERE src < dst
"""


# ------------------------------------------------ q102 dynamic NMI


def q102(spark: SparkSession, sf: str) -> DataFrame:
    """DynamicNMIDistance: NMI distance restricted to nodes present in
    both partitions — pa covers every node (id%10), pb only ids < 8000
    (id%7), modeling node deletions in a dynamic graph. Full value
    oracle."""
    eu = _eu(spark, sf)
    nodes = checkpoint(_nodes(eu))
    pa = nodes.select("id", (F.col("id") % 10).alias("subset"))
    pb = nodes.where(F.col("id") < 8000).select(
        "id", (F.col("id") % 7).alias("subset")
    )
    return community3.dynamic_nmi(pa, pb)


Q102_SQL = f"""
WITH eu AS ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu WHERE src < 8000),
ct AS (SELECT id % 10 AS sa, id % 7 AS sb, COUNT(*) AS n FROM nodes GROUP BY 1, 2),
nn AS (SELECT CAST(SUM(n) AS DOUBLE) AS n FROM ct),
a AS (SELECT sa, SUM(n) AS na FROM ct GROUP BY sa),
b AS (SELECT sb, SUM(n) AS nb FROM ct GROUP BY sb),
mi AS (SELECT SUM((ct.n / nn.n) * LN(nn.n * ct.n / (a.na * b.nb))) AS mi
       FROM ct CROSS JOIN nn JOIN a USING (sa) JOIN b USING (sb)),
ha AS (SELECT -SUM((na / nn.n) * LN(na / nn.n)) AS ha FROM a CROSS JOIN nn),
hb AS (SELECT -SUM((nb / nn.n) * LN(nb / nn.n)) AS hb FROM b CROSS JOIN nn)
SELECT ROUND(1.0 - CASE WHEN ha + hb > 0 THEN 2.0 * mi / (ha + hb) ELSE 1.0 END, 6)
       AS nmi_distance
FROM mi CROSS JOIN ha CROSS JOIN hb
"""


# -------------------------- q103-q105 iterative detectors (rows-only)


def q103(spark: SparkSession, sf: str) -> DataFrame:
    """LPDegreeOrdered invariants (bucketed sweep order is engine-defined,
    so sizes aren't SQL-reproducible; the checkable claims): a VALID
    partition — every node exactly one label — with labels drawn from
    node ids, and at least one community. Semantics golden-tested in
    tests/test_community3.py."""
    eu = checkpoint(_eu(spark, sf))
    part = checkpoint(community3.lp_degree_ordered(eu, max_iter=6, degree_buckets=4
                                        ))
    n_nodes = eu.select(F.col("src").alias("id")).distinct().count()
    node_ids = eu.select(F.col("src").alias("subset")).distinct()
    bad_labels = part.select("subset").distinct().join(
        node_ids, "subset", "left_anti"
    ).count()
    return part.agg(
        F.lit(
            part.count() == part.select("id").distinct().count() == n_nodes
        ).alias("valid_partition"),
        (F.countDistinct("subset") >= 1).alias("has_communities"),
        F.lit(bad_labels == 0).alias("labels_are_node_ids"),
    )


Q103_SQL = (
    "SELECT TRUE AS valid_partition, TRUE AS has_communities, "
    "TRUE AS labels_are_node_ids"
)


def q104(spark: SparkSession, sf: str) -> DataFrame:
    """ParallelAgglomerativeClusterer invariants after Δmod
    score→match→coarsen levels: n_nodes is exact (SQL-computable), the
    partition is valid, agglomeration is genuine (fewer communities than
    nodes), and no community exceeds the node count."""
    eu = checkpoint(_eu(spark, sf))
    # 2 levels prove genuine agglomeration at half the match/coarsen cost
    # match_rounds=3: a partial local-max matching agglomerates correctly
    # (operator docstring) and the certificate below is round-count
    # independent — each extra round is pure driver-job floor on this
    # modularity-structureless graph (~53 positive pairs at sf0.01)
    part = checkpoint(community3.parallel_agglomerative(eu, max_levels=2, match_rounds=3))
    n_nodes = eu.select(F.col("src").alias("id")).distinct().count()
    sizes = part.groupBy("subset").agg(F.count(F.lit(1)).alias("size"))
    return sizes.agg(
        F.sum("size").alias("n_nodes"),
        F.lit(part.select("id").distinct().count() == n_nodes).alias(
            "valid_partition"
        ),
        (F.count(F.lit(1)) < n_nodes).alias("agglomerated"),
        (F.max("size") <= n_nodes).alias("sizes_bounded"),
    )


Q104_SQL = f"""
SELECT COUNT(DISTINCT src) AS n_nodes, TRUE AS valid_partition,
       TRUE AS agglomerated, TRUE AS sizes_bounded
FROM ({EU_SQL})
"""


def q105(spark: SparkSession, sf: str) -> DataFrame:
    """Flake-Tarjan CutClustering on the id-capped (<60) subgraph,
    alpha=0.3: partition-validity invariants over the nested s-t min-cut
    clusters (max-flow values have no SQL twin; semantics golden-tested;
    n_nodes is exact and SQL-computable)."""
    eu = _eu(spark, sf)
    small = checkpoint(eu.where((F.col("src") < 60) & (F.col("dst") < 60)))
    part = checkpoint(community3.cut_clustering(small, alpha=0.3))
    n_nodes = small.select(F.col("src").alias("id")).distinct().count()
    sizes = part.groupBy("subset").agg(F.count(F.lit(1)).alias("size"))
    return sizes.agg(
        F.sum("size").alias("n_nodes"),
        F.lit(part.select("id").distinct().count() == n_nodes).alias(
            "valid_partition"
        ),
        (F.count(F.lit(1)) >= 1).alias("has_clusters"),
    )


Q105_SQL = f"""
SELECT COUNT(DISTINCT src) AS n_nodes, TRUE AS valid_partition,
       TRUE AS has_clusters
FROM ({EU_SQL}) WHERE src < 60 AND dst < 60
"""


COMMUNITY3 = {
    "q98_modularity_scoring": (q98, Q98_SQL),
    "q99_overlapping_nmi": (q99, Q99_SQL),
    "q100_rand_node_sampled": (q100, Q100_SQL),
    "q101_rand_graph_sampled": (q101, Q101_SQL),
    "q102_dynamic_nmi": (q102, Q102_SQL),
    "q103_lp_degree_ordered": (q103, Q103_SQL),
    "q104_parallel_agglomerative": (q104, Q104_SQL),
    "q105_cut_clustering": (q105, Q105_SQL),
}
