"""Distance-analytics + top-k/group centrality query entries (q80-q85)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.catalog import derived_edges, derived_edges_undirected
from icebug_spark.operators.centrality3 import (
    group_degree_greedy,
    group_harmonic_greedy,
    top_harmonic_closeness,
)
from icebug_spark.operators.distances2 import (
    anf_sketch_iteration,
    hop_plot,
    landmark_labels,
    spsp,
)
from icebug_spark.plans.iterate import checkpoint

# shared BFS-distance recursive CTE over EU (bounded hops)
_EU_INLINE = (
    "SELECT DISTINCT src, dst FROM ("
    "SELECT o_custkey AS src, l_suppkey AS dst FROM orders "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "UNION ALL "
    "SELECT l_suppkey, o_custkey FROM orders "
    "JOIN lineitem ON l_orderkey = o_orderkey)"
)


def _eu(spark: SparkSession, sf: str) -> DataFrame:
    return derived_edges_undirected(spark, sf)


# q80 — SPSP grid from sources 0..9 to targets 0..9 (SPSP.hpp:22).
_GRID = list(range(10))


def q80(spark: SparkSession, sf: str) -> DataFrame:
    return spsp(_eu(spark, sf), _GRID, _GRID)


Q80_SQL = f"""
WITH RECURSIVE eu AS ({_EU_INLINE}),
bfs(source, node, dist) AS (
  SELECT src, src, 0 FROM eu WHERE src < {len(_GRID)}
  UNION
  SELECT b.source, eu.dst, b.dist + 1
  FROM bfs b JOIN eu ON eu.src = b.node
  WHERE b.dist < 12
),
best AS (
  SELECT source, node, MIN(dist) AS dist FROM bfs GROUP BY source, node
)
SELECT source, node AS target, dist FROM best WHERE node < {len(_GRID)}
"""


# q81 — landmark-labeling distance oracle for capped pairs: exact-BFS SQL
# twin is NOT equivalent (the oracle is an upper bound), so the checkable
# claim is the LABEL TABLE itself: per-landmark BFS distances.
_N_LANDMARKS = 4


def q81(spark: SparkSession, sf: str) -> DataFrame:
    eu = _eu(spark, sf)
    return landmark_labels(eu, n_landmarks=_N_LANDMARKS, max_hops=12)


Q81_SQL = f"""
WITH RECURSIVE eu AS ({_EU_INLINE}),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM eu GROUP BY src),
lm AS (SELECT id FROM deg ORDER BY deg DESC, id LIMIT {_N_LANDMARKS}),
bfs(landmark, node, dist) AS (
  SELECT id, id, 0 FROM lm
  UNION
  SELECT b.landmark, eu.dst, b.dist + 1
  FROM bfs b JOIN eu ON eu.src = b.node
  WHERE b.dist < 12
)
SELECT landmark, node AS id, MIN(dist) AS dist
FROM bfs GROUP BY landmark, node
"""


# q82/q83 — ANF / hop-plot invariants: FM sketches are engine-seeded, so
# the checkable claims are the neighborhood function's defining
# properties: one row per hop 0..max_h, estimates positive and MONOTONE
# NON-DECREASING in h (a union-sketch that loses bits flips this), and
# the hop-plot fraction normalized to exactly 1.0 at the last hop.
_ANF_H = 6


def q82(spark: SparkSession, sf: str) -> DataFrame:
    nf = checkpoint(anf_sketch_iteration(_eu(spark, sf), k=32, max_h=_ANF_H, seed=42
                              ))
    # h−1 self-join instead of an unpartitioned lag window: same
    # monotonicity check, hop-bounded rows, zero WindowExec warnings in
    # sweep logs (a REAL single-partition window would stand out)
    prev = nf.select((F.col("h") + 1).alias("h"), F.col("n_pairs_est").alias("pe"))
    flags = nf.join(prev, "h", "left").select(
        "h",
        (F.col("n_pairs_est") > 0).alias("pos"),
        (F.col("n_pairs_est") >= F.coalesce("pe", F.col("n_pairs_est"))).alias("mono"),
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_hops"),
        F.min("pos").alias("all_positive"),
        F.min("mono").alias("monotone"),
    )


Q82_SQL = f"SELECT {_ANF_H + 1} AS n_hops, TRUE AS all_positive, TRUE AS monotone"


def q83(spark: SparkSession, sf: str) -> DataFrame:
    hp = checkpoint(hop_plot(_eu(spark, sf), k=32, max_h=_ANF_H, seed=42))
    # h−1 self-join instead of an unpartitioned lag window (see q82)
    prev = hp.select((F.col("h") + 1).alias("h"), F.col("fraction").alias("pf"))
    flags = hp.join(prev, "h", "left").select(
        "h",
        ((F.col("fraction") >= 0) & (F.col("fraction") <= 1)).alias("in01"),
        (F.col("fraction") >= F.coalesce("pf", F.col("fraction"))).alias("mono"),
    )
    last = hp.orderBy(F.desc("h")).limit(1).collect()[0]["fraction"]
    return flags.agg(
        F.count(F.lit(1)).alias("n_hops"),
        F.min("in01").alias("all_in_unit_range"),
        F.min("mono").alias("monotone"),
        F.lit(abs(last - 1.0) < 1e-9).alias("final_is_one"),
    )


Q83_SQL = (
    f"SELECT {_ANF_H + 1} AS n_hops, TRUE AS all_in_unit_range, "
    "TRUE AS monotone, TRUE AS final_is_one"
)


# q84 — top-10 harmonic closeness with candidate pruning. SQL twin mirrors
# the same top-40-degree candidate pool (BFS from all 1.5k nodes took the
# DuckDB oracle to ~5 min at sf0.01); pruning soundness itself is covered
# by the unit golden (star graph, exact values).
def q84(spark: SparkSession, sf: str) -> DataFrame:
    return top_harmonic_closeness(_eu(spark, sf), k=10, candidate_factor=4)


Q84_SQL = f"""
WITH RECURSIVE eu AS ({_EU_INLINE}),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM eu GROUP BY src),
cands AS (SELECT id FROM deg ORDER BY deg DESC, id LIMIT 40),
bfs(source, node, dist) AS (
  SELECT id, id, 0 FROM cands
  UNION
  SELECT b.source, eu.dst, b.dist + 1
  FROM bfs b JOIN eu ON eu.src = b.node
  WHERE b.dist < 12
),
best AS (SELECT source, node, MIN(dist) AS dist FROM bfs GROUP BY source, node)
SELECT source AS id, ROUND(SUM(1.0 / dist), 6) AS harmonic
FROM best WHERE dist > 0
GROUP BY source
ORDER BY harmonic DESC, id
LIMIT 10
"""


# q85 — greedy group centrality invariants (engine tie-breaks are not
# SQL-expressible; the checkable claims): exactly k greedy rounds per
# objective, selected members pairwise distinct, marginal gains
# non-negative, and k distinct greedy rounds.
_GROUP_K = 5


def q85(spark: SparkSession, sf: str) -> DataFrame:
    eu = _eu(spark, sf)
    gd = group_degree_greedy(eu, k=_GROUP_K).select(
        F.lit("degree").alias("objective"), "id",
        F.col("marginal_gain").cast("double").alias("marginal_gain"), "round"
    )
    gh = group_harmonic_greedy(eu, k=_GROUP_K).select(
        F.lit("harmonic").alias("objective"), "id", "marginal_gain", "round"
    )
    both = gd.unionByName(gh)
    return (
        both.groupBy("objective")
        .agg(
            F.count(F.lit(1)).alias("k_rounds"),
            (F.countDistinct("id") == F.count(F.lit(1))).alias("members_distinct"),
            F.min(F.col("marginal_gain") >= 0).alias("gains_nonneg"),
            (F.countDistinct("round") == _GROUP_K).alias("rounds_complete"),
        )
        .orderBy("objective")
    )


Q85_SQL = f"""
SELECT objective, {_GROUP_K} AS k_rounds, TRUE AS members_distinct,
       TRUE AS gains_nonneg, TRUE AS rounds_complete
FROM (VALUES ('degree'), ('harmonic')) t(objective)
ORDER BY objective
"""


# q110 — EXACT 2-hop pruned landmark labeling (PrunedLandmarkLabeling.hpp:12):
# pairwise distances from the hub-label join for a pair grid. Unlike
# q81's approximate landmarks, PLL distances are exact, so the twin is the
# plain recursive-BFS CTE — a full value oracle for the labeling.
# The certificate runs on the (src%7<2, dst%7<2) induced subgraph — the
# SQL-expressible density cap (the q140/q141 convention) that keeps the
# certified graph under the exact-PLL driver guard (pll.py max_edges) at
# EVERY sf: exact PLL construction is sequential by nature (SURVEY risk
# register), so the certificate scales the graph, not the guard — at
# sf0.1 the full graph is 586k arcs but the subgraph is ~48k.
_PLL_GRID = 50  # grid ids scanned; %7<2 keeps 15 of them


def q110(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.pll import pll_distance, pll_label_table

    eu = _eu(spark, sf).where(
        (F.col("src") % 7 < 2) & (F.col("dst") % 7 < 2)
    )
    labels = pll_label_table(eu)
    grid = (
        spark.range(_PLL_GRID).where(F.col("id") % 7 < 2).select("id")
    )
    pairs = (
        grid.select(F.col("id").alias("u"))
        .crossJoin(grid.select(F.col("id").alias("v")))
        .where(F.col("u") != F.col("v"))
    )
    return pll_distance(labels, pairs)


Q110_SQL = f"""
WITH RECURSIVE eu AS (
  SELECT src, dst FROM ({_EU_INLINE}) WHERE src % 7 < 2 AND dst % 7 < 2
),
bfs(source, node, dist) AS (
  SELECT src, src, 0 FROM eu WHERE src < {_PLL_GRID}
  UNION
  SELECT b.source, eu.dst, b.dist + 1
  FROM bfs b JOIN eu ON eu.src = b.node
  -- PLL distances are exact and unbounded, so this oracle's depth cap
  -- must dominate the subgraph's diameter (observed ~8 on the filtered
  -- derived graph; 20 matches the engine-side max_hops ceilings) or
  -- long-path pairs would vanish from the oracle only.
  WHERE b.dist < 20
),
best AS (SELECT source, node, MIN(dist) AS dist FROM bfs GROUP BY source, node)
SELECT source AS u, node AS v, dist FROM best
WHERE node < {_PLL_GRID} AND node != source
"""


DISTANCE2 = {
    "q80_spsp_grid": (q80, Q80_SQL),
    "q110_pll_exact_distances": (q110, Q110_SQL),
    "q81_landmark_labels": (q81, Q81_SQL),
    "q82_anf_curve": (q82, Q82_SQL),
    "q83_hop_plot": (q83, Q83_SQL),
    "q84_top_harmonic": (q84, Q84_SQL),
    "q85_group_centrality": (q85, Q85_SQL),
}
