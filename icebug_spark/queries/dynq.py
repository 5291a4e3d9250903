"""Dynamic-operator coverage queries q134-q142: oracle-backed checks for
the operators that previously had only pytest goldens (VERDICT r5 "golden"
rows): DynKatz, DynSSSP, DynAPSP, DynTopHarmonicCloseness,
DynamicBSuitorMatcher, KPathCentrality, GedWalk,
LocalSquareClusteringCoefficient and DynBetweenness.

Conventions match coverq.py: the dyn-vs-static-recompute template
(q125/q132) gives FULL-VALUE oracles for the deterministic maintenance
operators — remove a deterministic edge subset, replay it as an event
batch, and let DuckDB recompute the static answer on the final graph from
scratch. Seeded-randomized / greedy operators (k-path walks, GedWalk,
dynamic b-suitor) get invariant certificates with literal-TRUE oracles,
the invariants being real (validity, dominance, monotone greedy gains).
Reference parity pointers live in each query's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.catalog import (
    EU_SQL,
    derived_edges_undirected,
    derived_weighted_edges,
)
from icebug_spark.plans.iterate import checkpoint
from icebug_spark.queries.pointq import EWU_SQL, _bf_unrolled_sql, _ewu

_KATZ_ALPHA = 0.001  # alpha * lambda_max < 1 on the symmetrized graph
_KATZ_ITER = 8


def _eu(spark: SparkSession, sf: str) -> DataFrame:
    return derived_edges_undirected(spark, sf)


def _first_pair(eu: DataFrame) -> tuple[int, int]:
    """Deterministic undirected edge: the lexicographically smallest
    canonical pair. One-row collect — not a driver loop."""
    r = (
        eu.where(F.col("src") < F.col("dst"))
        .orderBy("src", "dst")
        .limit(1)
        .collect()[0]
    )
    return int(r["src"]), int(r["dst"])


def _without_pair(eu: DataFrame, u: int, v: int) -> DataFrame:
    return eu.where(
        ~(
            ((F.col("src") == u) & (F.col("dst") == v))
            | ((F.col("src") == v) & (F.col("dst") == u))
        )
    )


# q134 — DynKatzCentrality (centrality/DynKatzCentrality.hpp:23): Katz
# scores maintained under an insertion batch (apply_edge_events replay of
# a deterministically removed subset) must equal the truncated series
# sum_k alpha^k A^k 1 on the final graph, which the oracle recomputes
# per-iteration with a recursive CTE. Full value, 6dp.
def q134(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.streaming.dynamic2 import apply_edge_events, dyn_katz_update

    eu = _eu(spark, sf)
    re_added = eu.where((F.col("src") + F.col("dst")) % 23 == 0)
    old = eu.join(re_added, ["src", "dst"], "left_anti")
    batch = re_added.select(
        F.lit("EDGE_ADDITION").alias("type"),
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
    )
    edges_new = apply_edge_events(old, batch)
    return dyn_katz_update(edges_new, alpha=_KATZ_ALPHA, iters=_KATZ_ITER).orderBy(
        "id"
    )


Q134_SQL = f"""
WITH RECURSIVE eu AS MATERIALIZED ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu),
k(iter, id, term) AS (
  SELECT 0, id, CAST(1.0 AS DOUBLE) FROM nodes
  UNION ALL
  SELECT p.iter + 1, p.id, {_KATZ_ALPHA} * COALESCE(c.s, 0.0)
  FROM k p LEFT JOIN (
    SELECT eu.src AS id, SUM(k2.term) AS s
    FROM k k2 JOIN eu ON eu.dst = k2.id GROUP BY eu.src
  ) c ON c.id = p.id
  WHERE p.iter < {_KATZ_ITER}
)
SELECT id, ROUND(SUM(term), 6) AS katz FROM k GROUP BY id ORDER BY id
"""


# q135 — DynDijkstra / DynSSSP (distance/DynDijkstra.hpp:22,
# DynSSSP.hpp:24): weighted source-1 distances maintained under a MIXED
# removal+addition batch must equal static Bellman-Ford on the final
# graph (removed: (src+dst)%19==0 pairs; re-added: %23==0 pairs — the
# removal path exercises the affected-cone invalidation). Full value, 2dp.
def q135(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.traversal import sssp_weighted
    from icebug_spark.streaming.dynamic3 import dyn_sssp_update

    ewu = _ewu(spark, sf)
    s = F.col("src") + F.col("dst")
    added = (s % 23) == 0
    removed = ((s % 19) == 0) & ~((s % 23) == 0)
    old = ewu.where(~added)
    d0 = sssp_weighted(old, 1)
    final = checkpoint(ewu.where(~removed))
    batch = (
        ewu.where(added)
        .select(
            F.lit("EDGE_ADDITION").alias("type"),
            F.col("src").alias("u"),
            F.col("dst").alias("v"),
            F.col("weight").alias("w"),
        )
        .union(
            ewu.where(removed).select(
                F.lit("EDGE_REMOVAL").alias("type"),
                F.col("src").alias("u"),
                F.col("dst").alias("v"),
                F.col("weight").alias("w"),
            )
        )
    )
    newd = dyn_sssp_update(d0, final, batch, max_rounds=30)
    return newd.select("id", F.round("dist", 2).alias("dist")).orderBy("id")


_Q135_ROUNDS = 20  # > q88's 14: removals can lengthen shortest paths

# The final SELECT asserts CONVERGENCE (d_n ≡ d_{n-1}): if a removal ever
# stretches some shortest path past the unroll depth on a bigger SF, the
# WHERE empties the oracle output and the query fails LOUDLY on row
# count instead of silently under-relaxing.
Q135_SQL = f"""
WITH ewu AS MATERIALIZED (
  SELECT * FROM ({EWU_SQL})
  WHERE (src + dst) % 19 <> 0 OR (src + dst) % 23 = 0
),
{_bf_unrolled_sql(1, _Q135_ROUNDS)}
SELECT id, ROUND(dist, 2) AS dist FROM d{_Q135_ROUNDS}
WHERE (SELECT COUNT(*) FROM (
         SELECT id, dist FROM d{_Q135_ROUNDS}
         EXCEPT SELECT id, dist FROM d{_Q135_ROUNDS - 1})) = 0
ORDER BY id
"""


# q136 — DynAPSP (distance/DynAPSP.hpp:21): the maintained
# (source, id, dist) table over the 5 smallest node ids, after removing
# and re-inserting the smallest canonical edge, must equal static
# multi-source BFS on the final graph. Full-value per-source distance
# histogram (the insert splice's gap filter is exercised for real: a
# wrong affected-source set changes counts).
def q136(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.streaming.dynamic3 import DynAPSP

    eu = _eu(spark, sf)
    u, v = _first_pair(eu)
    srcs = [
        int(r["id"])
        for r in eu.select(F.col("src").alias("id")).distinct().orderBy("id").limit(5).collect()
    ]
    dyn = DynAPSP(_without_pair(eu, u, v), srcs, max_hops=30)
    dyn.insert_edge(u, v)
    return (
        dyn.distances()
        .groupBy("source", F.col("dist").cast("long").alias("dist"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("source", "dist")
    )


Q136_SQL = f"""
WITH RECURSIVE eu AS MATERIALIZED ({EU_SQL}),
srcs AS (SELECT DISTINCT src AS id FROM eu ORDER BY id LIMIT 5),
b(source, id, dist) AS (
  SELECT id, id, 0 FROM srcs
  UNION
  SELECT b.source, eu.dst, b.dist + 1
  FROM b JOIN eu ON eu.src = b.id WHERE b.dist < 30
),
d AS (SELECT source, id, MIN(dist) AS dist FROM b GROUP BY source, id)
SELECT source, CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes
FROM d GROUP BY source, dist ORDER BY source, dist
"""


# q137 — DynTopHarmonicCloseness (centrality/DynTopHarmonicCloseness.hpp:26):
# top-10 harmonic closeness over the top-40-degree candidate pool,
# maintained under the same remove-then-reinsert splice, must equal the
# static q84-shaped recompute on the final graph. Full value, 6dp.
def q137(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.streaming.dynamic3 import DynTopHarmonicCloseness

    eu = _eu(spark, sf)
    u, v = _first_pair(eu)
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    cands = [
        int(r["id"])
        for r in deg.orderBy(F.desc("deg"), F.asc("id")).limit(40).collect()
    ]
    dyn = DynTopHarmonicCloseness(_without_pair(eu, u, v), cands, k=10, max_hops=12)
    dyn.insert_edge(u, v)
    return dyn.top_k()


Q137_SQL = f"""
WITH RECURSIVE eu AS MATERIALIZED ({EU_SQL}),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM eu GROUP BY src),
cands AS (SELECT id FROM deg ORDER BY deg DESC, id LIMIT 40),
bfs(source, node, dist) AS (
  SELECT id, id, 0 FROM cands
  UNION
  SELECT b.source, eu.dst, b.dist + 1
  FROM bfs b JOIN eu ON eu.src = b.node WHERE b.dist < 12
),
best AS (SELECT source, node, MIN(dist) AS dist FROM bfs GROUP BY source, node)
SELECT source AS id, ROUND(SUM(1.0 / dist), 6) AS harmonic
FROM best WHERE dist > 0
GROUP BY source ORDER BY harmonic DESC, id LIMIT 10
"""


# q138 — DynamicBSuitorMatcher (matching/DynamicBSuitorMatcher.hpp:19)
# certificate: after inserting a strictly-dominating-weight edge between
# the smallest and largest node ids, the ball-local rematch MUST match
# that edge (suitor rounds prefer max weight); after removing it the
# matching must stay valid (multiplicity <= 1, no duplicate pairs, every
# matched pair is a current edge) and the dominating pair must be gone.
# Greedy order isn't SQL-reproducible, so the oracle pins the invariants.
def q138(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.streaming.dynamic3 import DynamicBSuitorMatcher

    ew = derived_weighted_edges(spark, sf)
    # lo/hi/big in ONE aggregate (was three driver-sync collects)
    row = ew.agg(
        F.least(F.min("src"), F.min("dst")).alias("lo"),
        F.greatest(F.max("src"), F.max("dst")).alias("hi"),
        F.sum("weight").alias("tot"),
    ).collect()[0]
    lo, hi = row["lo"], row["hi"]
    big = (row["tot"] or 1.0) + 1.0
    dyn = DynamicBSuitorMatcher(ew, b=1)
    dyn.insert_edge(int(lo), int(hi), float(big))
    mid = checkpoint(dyn.matching)
    dominating_matched = (
        mid.where(
            (F.least("u", "v") == int(lo)) & (F.greatest("u", "v") == int(hi))
        ).count()
        == 1
    )
    dyn.remove_edge(int(lo), int(hi))
    m = checkpoint(dyn.matching)
    # certificate stats fused into TWO aggregates (was four counts):
    # per-node multiplicities + row count in one, edge-existence +
    # dominating-pair presence in one left-join aggregate
    both = m.select(F.col("u").alias("id")).union(m.select(F.col("v").alias("id")))
    prow = (
        both.groupBy("id")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(F.max("k").alias("maxk"), F.count(F.lit(1)).alias("n_ids"))
        .collect()[0]
    )
    canon_edges = dyn.edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct().withColumn("ex", F.lit(1))
    m_canon = m.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    )
    erow = (
        m_canon.join(canon_edges, ["u", "v"], "left")
        .agg(
            F.sum(F.when(F.col("ex").isNull(), 1).otherwise(0)).alias("not_edge"),
            F.sum(
                F.when((F.col("u") == int(lo)) & (F.col("v") == int(hi)), 1).otherwise(0)
            ).alias("ndom"),
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [
            (
                bool(dominating_matched),
                (prow["maxk"] or 0) <= 1,
                (erow["not_edge"] or 0) == 0,
                (erow["ndom"] or 0) == 0,
                (prow["n_ids"] or 0) >= 1,
            )
        ],
        "dominating_matched BOOLEAN, valid_matching BOOLEAN, "
        "edges_exist BOOLEAN, dominating_gone BOOLEAN, has_matches BOOLEAN",
    )


Q138_SQL = (
    "SELECT TRUE AS dominating_matched, TRUE AS valid_matching, "
    "TRUE AS edges_exist, TRUE AS dominating_gone, TRUE AS has_matches"
)


# q139 — KPathCentrality (centrality/KPathCentrality.hpp:18,
# KPathCentrality.cpp:52-97) certificate: seeded random simple paths
# aren't SQL-reproducible, but the scores obey hard structural
# invariants of the reference counting rule (every arrival counted,
# one visit per walk on a simple path): non-negative, per-node ≤ 1
# (≤ one visit per walk / total walks), total visits ≤ k per walk
# (sum of scores ≤ k), and positive somewhere on a graph with edges.
# (An earlier variant asserted degree-1 nodes score EXACTLY zero —
# false under the reference semantics, where a leaf reached as a walk's
# endpoint is counted (counter[v]++ at KPathCentrality.cpp:88); the
# invariant happened to hold under the test seed at sf≤0.01 and flipped
# at sf0.1.)
def q139(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.centrality4 import k_path_centrality

    eu = _eu(spark, sf)
    kp = checkpoint(k_path_centrality(eu, k=4, walks_per_node=4, seed=11))
    row = kp.agg(
        F.min("kpath").alias("mn"),
        F.max("kpath").alias("mx"),
        F.sum("kpath").alias("tot"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                row["mn"] >= 0.0,
                row["mx"] <= 1.0,
                row["tot"] <= 4.0,
                row["tot"] > 0.0,
            )
        ],
        "nonnegative BOOLEAN, bounded BOOLEAN, total_bounded BOOLEAN, "
        "some_positive BOOLEAN",
    )


Q139_SQL = (
    "SELECT TRUE AS nonnegative, TRUE AS bounded, TRUE AS total_bounded, "
    "TRUE AS some_positive"
)


# q140 — GedWalk (centrality/GedWalk.hpp:19; pathsHit/pathsMiss
# recurrence GedWalk.cpp:300-346), FULL VALUE on the REFERENCE touch
# objective: score(S) = Σ_ℓ α^ℓ·#{ℓ-walks touching S} and the greedy
# marginal gain of c is Σ_ℓ α^ℓ (M_ℓ(S) − M_ℓ(S∪{c})) with M_ℓ(X) the
# ℓ-walk count of G[V∖X]. The oracle recomputes both greedy rounds by
# inclusion-exclusion over per-walk touch sets: with t_ℓ(x) = #ℓ-walks
# touching x and t_ℓ(x,y) = #ℓ-walks touching both, gain(c|∅) =
# Σ α^ℓ t_ℓ(c) and gain(c|{c1}) = Σ α^ℓ (t_ℓ(c) − t_ℓ(c1,c)) — exact
# dyadic arithmetic at α=.5, depth 2 (integer counts × {.5,.25}).
# Runs on the id%3 subgraph (q141's convention) to keep the oracle's
# 2-walk expansion ~1M rows. The oracle greedy ranks over ALL nodes (no
# candidate pool, r08): the engine's bound-based pruning
# (GedWalk.cpp estimateGains product-sum bounds + lazy batch expansion)
# must therefore be CONSERVATIVE — a wrongly pruned argmax, a wrong
# avoid-set recurrence, or a wrong greedy tie order flips values.
def q140(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.centrality4 import gedwalk_group

    eu = _eu(spark, sf).where((F.col("src") % 3 == 0) & (F.col("dst") % 3 == 0))
    return gedwalk_group(eu, k=2, alpha=0.5, depth=2).orderBy("rank")


Q140_SQL = f"""
WITH eu0 AS MATERIALIZED ({EU_SQL}),
eu AS (SELECT src, dst FROM eu0 WHERE src % 3 = 0 AND dst % 3 = 0),
deg AS (SELECT src AS id, COUNT(*) AS d FROM eu GROUP BY src),
w2 AS MATERIALIZED (
  SELECT a.src AS u, a.dst AS v, b.dst AS w
  FROM eu a JOIN eu b ON a.dst = b.src),
t1 AS (SELECT x, COUNT(*) AS c FROM (
         SELECT UNNEST(list_distinct([src, dst])) AS x FROM eu) GROUP BY x),
t2 AS (SELECT x, COUNT(*) AS c FROM (
         SELECT UNNEST(list_distinct([u, v, w])) AS x FROM w2) GROUP BY x),
g1 AS (SELECT p.id, p.d,
         0.5 * COALESCE(t1.c, 0) + 0.25 * COALESCE(t2.c, 0) AS gain
       FROM deg p LEFT JOIN t1 ON t1.x = p.id LEFT JOIN t2 ON t2.x = p.id),
c1 AS (SELECT id, d, gain FROM g1 ORDER BY gain DESC, d DESC, id LIMIT 1),
t1b AS (SELECT x, COUNT(*) AS c FROM (
          SELECT UNNEST(list_distinct([src, dst])) AS x FROM eu, c1
          WHERE src = c1.id OR dst = c1.id) GROUP BY x),
t2b AS (SELECT x, COUNT(*) AS c FROM (
          SELECT UNNEST(list_distinct([u, v, w])) AS x FROM w2, c1
          WHERE u = c1.id OR v = c1.id OR w = c1.id) GROUP BY x),
g2 AS (SELECT p.id, p.d,
         0.5 * (COALESCE(t1.c, 0) - COALESCE(t1b.c, 0))
         + 0.25 * (COALESCE(t2.c, 0) - COALESCE(t2b.c, 0)) AS gain
       FROM deg p
       LEFT JOIN t1 ON t1.x = p.id LEFT JOIN t2 ON t2.x = p.id
       LEFT JOIN t1b ON t1b.x = p.id LEFT JOIN t2b ON t2b.x = p.id
       WHERE p.id NOT IN (SELECT id FROM c1)),
c2 AS (SELECT id, d, gain FROM g2 ORDER BY gain DESC, d DESC, id LIMIT 1)
SELECT CAST(0 AS BIGINT) AS "rank", id, ROUND(gain, 6) AS gain FROM c1
UNION ALL
SELECT CAST(1 AS BIGINT), id, ROUND(gain, 6) FROM c2
ORDER BY "rank"
"""


# q141 — LocalSquareClusteringCoefficient
# (centrality/LocalSquareClusteringCoefficient.cpp:37-40): full-value
# quadrangle arithmetic on the id%3==0 subgraph — per wedge pair (u,w)
# centered at v: squares += ncn-1, potential += deg(u)+deg(w)-ncn-1
# (-2 more if (u,w) is an edge). The oracle repeats the arithmetic in
# pure SQL; any divergence in the wedge join, the common-neighbor count
# or the potential form flips values.
def q141(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.centrality4 import square_clustering

    eu = _eu(spark, sf).where(
        (F.col("src") % 3 == 0) & (F.col("dst") % 3 == 0)
    )
    return square_clustering(eu).orderBy("id")


Q141_SQL = f"""
WITH eu0 AS MATERIALIZED ({EU_SQL}),
eu AS (SELECT src, dst FROM eu0 WHERE src % 3 = 0 AND dst % 3 = 0),
deg AS (SELECT src AS id, COUNT(*) AS d FROM eu GROUP BY src),
cn AS (
  SELECT a.src AS u, b.src AS w, COUNT(*) AS q
  FROM eu a JOIN eu b ON a.dst = b.dst AND a.src < b.src
  GROUP BY a.src, b.src
),
wedge AS (
  SELECT e1.dst AS u, e1.src AS v, e2.dst AS w
  FROM eu e1 JOIN eu e2 ON e1.src = e2.src AND e1.dst < e2.dst
),
per AS (
  SELECT wg.v,
         cn.q - 1 AS sq,
         du.d + dw.d - cn.q - 1
           - CASE WHEN ed.src IS NOT NULL THEN 2 ELSE 0 END AS pot
  FROM wedge wg
  JOIN cn ON cn.u = wg.u AND cn.w = wg.w
  JOIN deg du ON du.id = wg.u
  JOIN deg dw ON dw.id = wg.w
  LEFT JOIN eu ed ON ed.src = wg.u AND ed.dst = wg.w
)
SELECT v AS id,
       ROUND(CASE WHEN SUM(pot) > 0
                  THEN CAST(SUM(sq) AS DOUBLE) / CAST(SUM(pot) AS DOUBLE)
                  ELSE 0.0 END, 6) AS square_cc
FROM per GROUP BY v ORDER BY id
"""


# q142 — DynBetweenness (centrality/DynBetweenness.hpp:35, sampled-source
# variant = DynApproxBetweenness analog): Brandes scores maintained under
# the remove-then-reinsert splice must equal the static recompute on the
# final graph. The oracle IS q48's unrolled forward-σ/backward-δ SQL over
# the full EU with the identical source set — a wrong affected-source
# gap filter (σ changes need gap ≥ 1, not the distance-only gap ≥ 2)
# flips delta values. Full value, 6dp.
_Q142_SOURCES = 4  # half of q48's pool: the dyn path runs Brandes TWICE
_Q142_LEVELS = 12


def q142(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.streaming.dynamic3 import DynBetweenness

    eu = _eu(spark, sf)
    u, v = _first_pair(eu)
    dyn = DynBetweenness(
        _without_pair(eu, u, v),
        list(range(_Q142_SOURCES)),
        max_hops=_Q142_LEVELS,
    )
    dyn.insert_edge(u, v)
    return dyn.scores()


def _q142_sql() -> str:
    from icebug_spark.queries.centralq import _brandes_unrolled_sql

    return f"""
WITH eu AS MATERIALIZED ({EU_SQL}),
{_brandes_unrolled_sql(_Q142_SOURCES, _Q142_LEVELS)}
SELECT id, ROUND(SUM(delta), 6) AS betweenness
FROM allc WHERE id <> s GROUP BY id
"""


DYN = {
    "q134_dynkatz_events": (q134, Q134_SQL),
    "q135_dynsssp_mixed": (q135, Q135_SQL),
    "q136_dynapsp_insert": (q136, Q136_SQL),
    "q137_dyntopharmonic_insert": (q137, Q137_SQL),
    "q138_dynbsuitor_certificate": (q138, Q138_SQL),
    "q139_kpath_certificate": (q139, Q139_SQL),
    "q140_gedwalk_greedy": (q140, Q140_SQL),
    "q141_square_clustering": (q141, Q141_SQL),
    "q142_dynbetweenness_insert": (q142, _q142_sql()),
}
