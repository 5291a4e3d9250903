"""Round-9 operator certificates (q153-q161): partition Jaccard, plain
top-k closeness, group-closeness local search, pivot ApproxCloseness,
UST spanning-edge sampling, DynApproxBetweenness, LinkThresholder,
EdgeScoreAsWeight, NeighborhoodFunctionHeuristic.

Full-value twins where the engine path is SQL-expressible (q153, q154,
q156, q159, q160, q161); invariant certificates (the q85/q100 style —
Spark computes the checkable booleans, the twin pins the expected
constants) where the engine relies on seeded sampling that DuckDB cannot
reproduce (q155, q157, q158)."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.catalog import E_SQL, EU_SQL, derived_edges_undirected
from icebug_spark.plans.iterate import checkpoint
from icebug_spark.queries.edgescoreq import _TRI_SQL


def _eu(spark: SparkSession, sf: str) -> DataFrame:
    return derived_edges_undirected(spark, sf)


def _nodes(eu: DataFrame) -> DataFrame:
    return eu.select(F.col("src").alias("id")).distinct()


# q153 — JaccardMeasure over the deterministic hash partitions (the
# q32-q35 convention: subset = id % k so the twin is pure SQL).
def q153(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.community import hash_clustering
    from icebug_spark.operators.community3 import jaccard_measure

    nodes = _nodes(_eu(spark, sf))
    return jaccard_measure(hash_clustering(nodes, 10), hash_clustering(nodes, 7))


Q153_SQL = f"""
WITH eu AS ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu),
ct AS (SELECT id % 10 AS sa, id % 7 AS sb, COUNT(*) AS n FROM nodes GROUP BY 1, 2),
sums AS (
  SELECT (SELECT SUM(n) FROM ct) AS nn,
         (SELECT SUM(n * (n - 1) / 2) FROM ct) AS s11,
         (SELECT SUM(na * (na - 1) / 2)
          FROM (SELECT SUM(n) AS na FROM ct GROUP BY sa)) AS sz,
         (SELECT SUM(nb * (nb - 1) / 2)
          FROM (SELECT SUM(n) AS nb FROM ct GROUP BY sb)) AS se
)
SELECT ROUND(
  CASE WHEN nn * (nn - 1) - 2.0 * (nn * (nn - 1) / 2.0 + s11 - sz - se) > 0
       THEN 1.0 - 2.0 * s11
            / (nn * (nn - 1) - 2.0 * (nn * (nn - 1) / 2.0 + s11 - sz - se))
       ELSE 0.0 END, 6) AS jaccard_distance
FROM sums
"""


# q154 — plain TopCloseness over the fixed degree-top pool (the q84
# convention: the SQL twin mirrors the same top-40 pool; the adaptive
# bound-certified expansion is covered by the unit golden where the pool
# is provably insufficient — a lollipop).
def q154(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.centrality5 import top_closeness

    return top_closeness(
        _eu(spark, sf), k=10, candidate_factor=4, max_hops=12, max_expansions=1
    )


Q154_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM eu GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM deg),
cands AS (SELECT id FROM deg ORDER BY deg DESC, id LIMIT 40),
bfs(source, node, dist) AS (
  SELECT id, id, 0 FROM cands
  UNION
  SELECT b.source, eu.dst, b.dist + 1
  FROM bfs b JOIN eu ON eu.src = b.node
  WHERE b.dist < 12
),
best AS (SELECT source, node, MIN(dist) AS dist FROM bfs GROUP BY source, node),
far AS (SELECT source AS id, SUM(dist) AS f FROM best GROUP BY source),
top AS (
  SELECT id, CAST(nn.n - 1 AS DOUBLE) / f AS c
  FROM far, nn
  ORDER BY c DESC, id
  LIMIT 10
)
SELECT id, ROUND(c, 6) AS closeness FROM top ORDER BY closeness DESC, id
"""


# q155 — GroupClosenessLocalSearch/LocalSwaps invariants: the refined
# group has exactly k members, its farness never exceeds the seed
# group's, and both variants agree on the swap count from the same
# deterministic kernel.
_GC_K = 4


def q155(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.centrality5 import group_closeness_local_search

    eu = _eu(spark, sf)
    seed_group = [
        int(r["id"]) for r in _nodes(eu).orderBy("id").limit(_GC_K).collect()
    ]
    res = checkpoint(group_closeness_local_search(
        eu, seed_group, candidate_factor=3, max_hops=8
    ))
    # seed-group farness, computed independently of the operator (same
    # hop bound); the LocalSwaps variant shares this kernel verbatim and
    # is covered by its golden (tests/test_round9_ops.py)
    from icebug_spark.operators.traversal import multi_source_bfs

    d = multi_source_bfs(eu, seed_group, max_hops=8)
    init_far = (
        d.groupBy("id").agg(F.min("dist").alias("db")).agg(F.sum("db")).collect()[0][0]
    )
    return res.agg(
        F.count(F.lit(1)).alias("k_members"),
        (F.max("farness") <= float(init_far)).alias("improved_or_equal"),
        F.min(F.col("n_swaps") >= 0).alias("swaps_nonneg"),
    )


Q155_SQL = (
    f"SELECT {_GC_K} AS k_members, TRUE AS improved_or_equal, "
    "TRUE AS swaps_nonneg"
)


# q156 — ApproxCloseness with SQL-pinned pivots (id % 97 = 0 — the
# mod keeps the pivot set sweep-budget-sized at every SF) and ε=0:
# the estimator collapses to the Eppstein-Wang form — sampled nodes
# exact 1/Σd, others 1/((n−1)/k·Σ_i d(s_i,u)) with the variance
# estimate (n−1)/k·(Σd²/k − (Σd/k)²)·k/k — a FULL-VALUE oracle for the
# whole pipeline (pivot assignment, bucket sums, final assembly).
def q156(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.centrality5 import approx_closeness

    eu = _eu(spark, sf)
    pivots = [
        int(r["id"])
        for r in _nodes(eu).where(F.col("id") % 97 == 0).collect()
    ]
    return approx_closeness(
        eu, epsilon=0.0, max_hops=12, samples=pivots
    ).orderBy("id")


Q156_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu),
nn AS (SELECT COUNT(*) AS n FROM nodes),
piv AS (SELECT id FROM nodes WHERE id % 97 = 0),
kk AS (SELECT COUNT(*) AS k FROM piv),
bfs(source, node, dist) AS (
  SELECT id, id, 0 FROM piv
  UNION
  SELECT b.source, eu.dst, b.dist + 1
  FROM bfs b JOIN eu ON eu.src = b.node
  WHERE b.dist < 12
),
best AS (SELECT source, node, MIN(dist) AS dist FROM bfs GROUP BY source, node),
exact AS (
  SELECT source AS id, ROUND(1.0 / SUM(dist), 6) AS approx_closeness,
         0.0 AS sq_err
  FROM best GROUP BY source
),
est AS (
  SELECT b.node AS id,
         SUM(b.dist) AS sd, SUM(CAST(b.dist AS DOUBLE) * b.dist) AS sdq
  FROM best b
  WHERE b.node NOT IN (SELECT id FROM piv)
  GROUP BY b.node
)
SELECT id, approx_closeness, sq_err FROM exact
UNION ALL
SELECT e.id,
       ROUND(1.0 / (CAST(nn.n - 1 AS DOUBLE) / kk.k * e.sd), 6)
         AS approx_closeness,
       ROUND(CAST(nn.n - 1 AS DOUBLE) / kk.k
             * (e.sdq / kk.k - (CAST(e.sd AS DOUBLE) / kk.k) * (CAST(e.sd AS DOUBLE) / kk.k)),
             6) AS sq_err
FROM est e, nn, kk
ORDER BY id
"""


# q157 — ApproxSpanningEdge invariants on the 2-hop ball around the
# smallest node (connected by construction): the edge count matches the
# SQL-computed induced ball, every sampled-tree score is in [0, 1],
# pendant (bridge) edges score exactly 1, and the scores sum to
# n_ball − 1 (every UST has exactly n−1 edges).
def q157(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.centrality5 import approx_spanning_edge

    eu = _eu(spark, sf)
    root = _nodes(eu).agg(F.min("id")).collect()[0][0]
    # connected-by-construction capped ball: root -> its 10 smallest
    # neighbors -> their %13<3 neighbors (the q110 mod-cap convention
    # keeping the walked graph small at every sf; every kept node has a
    # kept parent so the induced graph stays connected)
    d1 = (
        eu.where(F.col("src") == root)
        .select(F.col("dst").alias("id"))
        .orderBy("id")
        .limit(10)
    )
    ball = checkpoint(
        d1.union(
            eu.join(d1.withColumnRenamed("id", "src"), "src")
            .where(F.col("dst") % 13 < 3)
            .select(F.col("dst").alias("id"))
        )
        .union(spark.createDataFrame([(int(root),)], "id BIGINT"))
        .distinct()
    )
    sub = (
        eu.join(ball.withColumnRenamed("id", "src"), "src")
        .join(ball.withColumnRenamed("id", "dst"), "dst")
        .select("src", "dst")
    )
    scores = checkpoint(approx_spanning_edge(sub, eps=0.35))
    # node count of the graph the sampler actually walked (canonical
    # non-loop edges' endpoints) — every UST has exactly n_c - 1 edges
    n_c = (
        scores.select(F.col("u").alias("id"))
        .union(scores.select(F.col("v").alias("id")))
        .distinct()
        .count()
    )
    deg = (
        sub.groupBy(F.col("src").alias("x")).agg(F.count(F.lit(1)).alias("d"))
    )
    pend = scores.join(
        deg.where(F.col("d") == 1).select(F.col("x").alias("u")), "u", "leftsemi"
    ).unionByName(
        scores.join(
            deg.where(F.col("d") == 1).select(F.col("x").alias("v")),
            "v",
            "leftsemi",
        )
    )
    # per-edge 6dp rounding accumulates to at most m·5e-7
    m_edges = scores.count()
    tol = max(1e-6, 6e-7 * m_edges)
    return scores.agg(
        F.count(F.lit(1)).alias("m_edges"),
        (F.abs(F.sum("ust_score") - F.lit(float(n_c - 1))) < tol).alias(
            "sum_is_n_minus_1"
        ),
        F.min((F.col("ust_score") >= 0.0) & (F.col("ust_score") <= 1.0)).alias(
            "in_unit"
        ),
    ).crossJoin(
        pend.agg(F.coalesce(F.min(F.col("ust_score") == 1.0), F.lit(True)).alias("pendants_one"))
    )


Q157_SQL = f"""
WITH eu AS ({EU_SQL}),
root AS (SELECT MIN(src) AS r FROM eu),
d1 AS (
  SELECT DISTINCT dst AS id FROM eu, root WHERE src = r
  ORDER BY id LIMIT 10
),
ball AS (
  SELECT id FROM d1
  UNION
  SELECT DISTINCT eu.dst FROM eu JOIN d1 ON eu.src = d1.id
  WHERE eu.dst % 13 < 3
  UNION
  SELECT r FROM root
),
sub AS (
  SELECT src, dst FROM eu
  WHERE src IN (SELECT id FROM ball) AND dst IN (SELECT id FROM ball)
    AND src < dst
)
SELECT COUNT(*) AS m_edges, TRUE AS sum_is_n_minus_1,
       TRUE AS in_unit, TRUE AS pendants_one
FROM sub
"""


# q158 — DynApproxBetweenness invariants: the capped sample size is
# exact; after an insertion every stored sampled path is STILL a
# shortest path of the updated graph (interior+1 == d(s,t)); scores
# stay in [0, 1].
_DAB_SAMPLES = 4


def q158(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.traversal import multi_source_bfs
    from icebug_spark.streaming.dynamic3 import DynApproxBetweenness

    eu = _eu(spark, sf)
    dyn = DynApproxBetweenness(eu, eps=0.5, max_samples=_DAB_SAMPLES, vd=10)
    ids = _nodes(eu).agg(F.min("id"), F.max("id")).collect()[0]
    dyn.insert_edge(int(ids[0]), int(ids[1]))

    pairs = checkpoint(dyn.pairs.select("pair", "s", "t"))
    sources = sorted(int(r["s"]) for r in pairs.select("s").distinct().collect())
    d = multi_source_bfs(dyn.eu, sources, max_hops=dyn.vd + 2).select(
        F.col("source").alias("s"), F.col("id").alias("t"), "dist"
    )
    interior = dyn.members.groupBy("pair").agg(F.count(F.lit(1)).alias("ic"))
    chk = (
        pairs.join(d, ["s", "t"])
        .join(interior, "pair", "left")
        .select(
            "pair",
            (F.coalesce("ic", F.lit(0)) + 1 == F.col("dist")).alias("ok"),
        )
    )
    return chk.agg(
        (F.count(F.lit(1)) == dyn.r).alias("sample_size_matches_bound"),
        F.min("ok").alias("paths_shortest"),
    ).crossJoin(
        dyn.scores().agg(
            F.min(
                (F.col("approx_bc") >= 0.0) & (F.col("approx_bc") <= 1.0)
            ).alias("scores_in_unit")
        )
    )


Q158_SQL = (
    "SELECT TRUE AS sample_size_matches_bound, TRUE AS paths_shortest, "
    "TRUE AS scores_in_unit"
)


# q159 — LinkThresholder byCount over the common-neighbors index on the
# q20 candidate cap: full-value (u, v) rows with the PredictionsSorter
# tie rule (score desc, pair asc).
_LT_CAP = 200
_LT_N = 25


def q159(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.catalog import derived_edges
    from icebug_spark.operators.linkpred import common_neighbors
    from icebug_spark.operators.linkpred2 import threshold_by_count

    e = derived_edges(spark, sf)
    adj = e.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    preds = common_neighbors(
        adj, pair_filter=lambda c: c < _LT_CAP
    ).withColumnRenamed("common_neighbors", "score")
    return threshold_by_count(preds, _LT_N).orderBy("u", "v")


Q159_SQL = f"""
WITH e AS ({E_SQL}),
cn AS (
  SELECT a.src AS u, b.src AS v, COUNT(*) AS score
  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
  WHERE a.src < {_LT_CAP} AND b.src < {_LT_CAP}
  GROUP BY a.src, b.src
),
top AS (SELECT u, v FROM cn ORDER BY score DESC, u, v LIMIT {_LT_N})
SELECT u, v FROM top ORDER BY u, v
"""


# q160 — EdgeScoreAsWeight over the per-edge triangle score:
# weight = 1 + 2·n_tri² (squared path), full value.
def q160(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.edgescores import (
        edge_score_as_weight,
        edge_triangle_count,
    )

    te = edge_triangle_count(_eu(spark, sf))
    return edge_score_as_weight(
        te, "n_tri", squared=True, offset=1.0, factor=2.0
    ).orderBy("src", "dst")


Q160_SQL = f"""
WITH {_TRI_SQL}
SELECT u AS src, v AS dst,
       1.0 + 2.0 * CAST(n_tri AS DOUBLE) * n_tri AS weight
FROM tri
ORDER BY src, dst
"""


# q161 — NeighborhoodFunctionHeuristic, split strategy, full value: the
# deterministic every-(n/s)-th pick of the ascending-degree order and
# the reference's scaled cumulative accumulation with exact endpoints
# are both reproduced in SQL (dia via the same double-sweep rule: BFS
# from the smallest node, farthest/min-id turn node, BFS again).
_NFH_SAMPLES = 30


def q161(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.distances2 import neighborhood_function_heuristic

    return neighborhood_function_heuristic(
        _eu(spark, sf), n_samples=_NFH_SAMPLES, strategy="split"
    ).orderBy("h")


Q161_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM eu GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM deg),
mm AS (SELECT COUNT(*) // 2 AS m FROM eu),
start0 AS (SELECT 0 AS s),
b1(node, dist) AS (
  SELECT s, 0 FROM start0
  UNION
  SELECT eu.dst, b1.dist + 1 FROM b1 JOIN eu ON eu.src = b1.node
  WHERE b1.dist < 40
),
b1m AS (SELECT node, MIN(dist) AS dist FROM b1 GROUP BY node),
turn AS (SELECT node FROM b1m ORDER BY dist DESC, node LIMIT 1),
b2(node, dist) AS (
  SELECT node, 0 FROM turn
  UNION
  SELECT eu.dst, b2.dist + 1 FROM b2 JOIN eu ON eu.src = b2.node
  WHERE b2.dist < 40
),
b2m AS (SELECT node, MIN(dist) AS dist FROM b2 GROUP BY node),
dia AS (SELECT GREATEST(MAX(dist), 1) AS d FROM b2m),
ranked AS (
  SELECT id, ROW_NUMBER() OVER (ORDER BY deg, id) - 1 AS pos FROM deg
),
step AS (SELECT GREATEST(n // {_NFH_SAMPLES}, 1) AS w FROM nn),
picks AS (
  SELECT id FROM ranked, step
  WHERE pos % w = 0 AND pos / w < {_NFH_SAMPLES}
),
ks AS (SELECT COUNT(*) AS k FROM picks),
bfs(source, node, dist) AS (
  SELECT id, id, 0 FROM picks
  UNION
  SELECT b.source, eu.dst, b.dist + 1
  FROM bfs b JOIN eu ON eu.src = b.node, dia
  WHERE b.dist < dia.d
),
best AS (SELECT source, node, MIN(dist) AS dist FROM bfs GROUP BY source, node),
hist AS (
  SELECT dist, COUNT(*) AS cnt FROM best WHERE dist > 0 GROUP BY dist
),
hs AS (SELECT h FROM (SELECT UNNEST(GENERATE_SERIES(1, d)) AS h FROM dia)),
interior AS (
  SELECT hs.h,
         SUM(CASE WHEN hist.dist BETWEEN 2 AND hs.h
                  THEN FLOOR(hist.cnt * CAST(nn.n AS DOUBLE) / ks.k + 0.5)
                  ELSE 0 END)
           AS add_on
  FROM hs
  LEFT JOIN hist ON hist.dist BETWEEN 2 AND hs.h, nn, ks
  GROUP BY hs.h, nn.n, ks.k
)
SELECT i.h,
       CAST(CASE WHEN i.h = 1 THEN 2 * mm.m
                 WHEN i.h = dia.d THEN nn.n * (nn.n - 1)
                 ELSE 2 * mm.m + i.add_on END AS BIGINT) AS n_pairs
FROM interior i, dia, nn, mm
ORDER BY i.h
"""




# q162 — binary partition sidecar round-trips (BinaryPartitionWriter/
# Reader + BinaryEdgeListPartitionWriter/Reader, the q152 byte-level
# certificate pattern): the nation partition (nationkey → regionkey)
# through both binary formats; the oracle recomputes the expected rows
# from parquet, so any byte-order/width/offset defect flips the hash.
def q162(spark: SparkSession, sf: str) -> DataFrame:
    import shutil
    import tempfile

    from icebug_spark.catalog import table
    from icebug_spark.sources import readers7

    p = table(spark, sf, "nation").select(
        F.col("n_nationkey").cast("long").alias("id"),
        F.col("n_regionkey").cast("long").alias("subset"),
    )
    d = tempfile.mkdtemp(prefix="icebug_q162_")
    try:
        readers7.write_binary_partition(p, f"{d}/p.bin", width=4)
        dense = readers7.read_binary_partition(spark, f"{d}/p.bin", width=4)
        readers7.write_binary_edge_list_partition(
            p, f"{d}/elp.bin", first_node=7, width=8
        )
        pairs = readers7.read_binary_edge_list_partition(
            spark, f"{d}/elp.bin", first_node=7, width=8
        )
        out = dense.select(F.lit("dense").alias("fmt"), "id", "subset").unionByName(
            pairs.select(F.lit("pairs").alias("fmt"), "id", "subset")
        )
        return checkpoint(out.orderBy("fmt", "id"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


Q162_SQL = """
SELECT fmt, CAST(n_nationkey AS BIGINT) AS id,
       CAST(n_regionkey AS BIGINT) AS subset
FROM nation, (VALUES ('dense'), ('pairs')) t(fmt)
ORDER BY fmt, id
"""




# q163 — DynamicHyperbolic events drive DynConnectedComponents (the
# round-8 verdict asked for a removal-bearing SECOND event source into
# the dynamic certificates): one movement step (additions AND
# removals), applied through dyn_cc_update, must leave the maintained
# labels equal to the static CC of the final generated graph. The
# event-stream==static-recompute replay property is pinned by the
# golden (tests/test_dynamic_generators.py); generator randomness is
# hash-seeded, so this is an invariant certificate.
def q163(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.components import connected_components
    from icebug_spark.sources.dynamic_generators import DynamicHyperbolic
    from icebug_spark.streaming.dynamic2 import dyn_cc_update

    gen = DynamicHyperbolic(
        spark, n=56, avg_degree=4.0, move_each_step=0.7, move_distance=0.4,
        seed=17, bands=8
    )
    e0 = checkpoint(gen.initial_edges())
    ev = checkpoint(gen.generate(1))
    has_removals = ev.where(F.col("type") == "EDGE_REMOVAL").count() > 0

    def sym(e):
        return e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

    comp0 = connected_components(sym(e0))
    batch = ev.where(F.col("type") != "TIME_STEP").select("type", "u", "v")
    gen_final = gen.edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    comp = checkpoint(dyn_cc_update(comp0, sym(gen_final), batch))
    static = connected_components(sym(gen_final))
    cdiff = comp.withColumn("l", F.lit(1)).join(
        static.withColumn("r", F.lit(1)), ["id", "component"], "full"
    )
    components_match = (
        cdiff.where(F.col("l").isNull() | F.col("r").isNull()).count() == 0
    )
    return spark.createDataFrame(
        [(1, bool(has_removals), bool(components_match))],
        "steps INT, has_removals BOOLEAN, components_match BOOLEAN",
    )


Q163_SQL = (
    "SELECT 1 AS steps, TRUE AS has_removals, TRUE AS components_match"
)


ROUND9 = {
    "q153_jaccard_measure": (q153, Q153_SQL),
    "q154_top_closeness": (q154, Q154_SQL),
    "q155_group_closeness_swaps": (q155, Q155_SQL),
    "q156_approx_closeness": (q156, Q156_SQL),
    "q157_approx_spanning_edge": (q157, Q157_SQL),
    "q158_dyn_approx_betweenness": (q158, Q158_SQL),
    "q159_link_thresholder": (q159, Q159_SQL),
    "q160_edge_score_as_weight": (q160, Q160_SQL),
    "q161_nf_heuristic": (q161, Q161_SQL),
    "q162_binary_partition_roundtrip": (q162, Q162_SQL),
    "q163_dynamic_hyperbolic_dyncc": (q163, Q163_SQL),
}
