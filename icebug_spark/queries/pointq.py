"""Point-to-point distance query entries: bidirectional BFS/Dijkstra, A*,
multi-target BFS, Floyd-Warshall, ReverseBFS — all with full value
oracles.

The weighted graph is the symmetrized multiplicity-weighted derived graph
EWU (min weight per arc direction pair); searches are deterministic, so
the DuckDB twins recompute the same distances (recursive BFS closures for
hop metrics, unrolled Bellman-Ford rounds for weighted metrics — round
count chosen ≥ the max edge count of any weighted shortest path, the last
rounds being no-ops once converged).
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
from icebug_spark.operators import pointtopoint as pp
from icebug_spark.operators.traversal import bfs_distances
from icebug_spark.plans.iterate import checkpoint

_SRC = 1
_DST = 42

# Symmetrized weighted graph: both arc directions, min multiplicity-weight
# when (a,b) and (b,a) both occur.
EWU_SQL = (
    f"SELECT src, dst, MIN(weight) AS weight FROM ("
    f"SELECT src, dst, weight FROM ({EW_SQL}) "
    f"UNION ALL "
    f"SELECT dst AS src, src AS dst, weight FROM ({EW_SQL})"
    f") GROUP BY src, dst"
)

_BF_ROUNDS = 14  # ≥ max edge count of any weighted shortest path here


def _ewu(spark: SparkSession, sf: str) -> DataFrame:
    ew = derived_weighted_edges(spark, sf)
    rev = ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    return checkpoint(
        ew.union(rev)
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
    )


def _bf_unrolled_sql(source: int, rounds: int) -> str:
    """Unrolled Bellman-Ford from ``source`` over ewu → d{rounds}(id, dist)."""
    parts = [
        f"d0 AS MATERIALIZED (SELECT CAST({source} AS BIGINT) AS id, "
        f"CAST(0 AS DOUBLE) AS dist)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
  SELECT id, MIN(dist) AS dist FROM (
    SELECT id, dist FROM d{i-1}
    UNION ALL
    SELECT ewu.dst AS id, d.dist + ewu.weight AS dist
    FROM d{i-1} d JOIN ewu ON ewu.src = d.id
  ) GROUP BY id
)"""
        )
    return ",\n".join(parts)


def q86(spark: SparkSession, sf: str) -> DataFrame:
    """Bidirectional BFS s–t hop distance (reference
    distance/BidirectionalBFS.hpp:22)."""
    eu = derived_edges_undirected(spark, sf)
    return pp.bidirectional_bfs(eu, _SRC, _DST)


Q86_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
b(id, dist) AS (
  SELECT CAST({_SRC} AS BIGINT), 0
  UNION
  SELECT eu.dst, b.dist + 1 FROM b JOIN eu ON eu.src = b.id WHERE b.dist < 20
)
SELECT CAST({_SRC} AS BIGINT) AS source, CAST({_DST} AS BIGINT) AS target,
       CAST(MIN(dist) AS BIGINT) AS dist
FROM b WHERE id = {_DST}
"""


def q87(spark: SparkSession, sf: str) -> DataFrame:
    """MultiTargetBFS: source→{{id < 25}} hop distances (reference
    distance/MultiTargetBFS.hpp:13); stops once the target set is done."""
    eu = derived_edges_undirected(spark, sf)
    nodes = eu.select(F.col("src").alias("id")).distinct()
    targets = [r["id"] for r in nodes.where(F.col("id") < 25).collect()]
    return pp.multi_target_bfs(eu, _SRC, targets).orderBy("id")


Q87_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
b(id, dist) AS (
  SELECT CAST({_SRC} AS BIGINT), 0
  UNION
  SELECT eu.dst, b.dist + 1 FROM b JOIN eu ON eu.src = b.id WHERE b.dist < 20
)
SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM b
WHERE id < 25 GROUP BY id
"""


def q88(spark: SparkSession, sf: str) -> DataFrame:
    """Bidirectional Dijkstra s–t weighted distance (reference
    distance/BidirectionalDijkstra.hpp:20) on EWU."""
    out = pp.bidirectional_dijkstra(_ewu(spark, sf), _SRC, _DST)
    return out.select("source", "target", F.round("dist", 2).alias("dist"))


Q88_SQL = f"""
WITH ewu AS MATERIALIZED ({EWU_SQL}),
{_bf_unrolled_sql(_SRC, _BF_ROUNDS)}
SELECT CAST({_SRC} AS BIGINT) AS source, CAST({_DST} AS BIGINT) AS target,
       ROUND(dist, 2) AS dist
FROM d{_BF_ROUNDS} WHERE id = {_DST}
"""


def q89(spark: SparkSession, sf: str) -> DataFrame:
    """A* s–t distance with an admissible hop×min-weight heuristic
    (reference distance/AStar.hpp:18): h(v) = hops(v→target)·min_w lower-
    bounds the weighted distance, so pruning g+h ≥ μ keeps exactness —
    the answer must equal plain Dijkstra's (q88)."""
    ewu = _ewu(spark, sf)
    min_w = ewu.agg(F.min("weight")).collect()[0][0] or 1.0
    # hop distances TO the target = BFS from target on the (symmetric) graph
    h = bfs_distances(ewu.select("src", "dst"), _DST).select(
        "id", (F.col("dist") * F.lit(float(min_w))).alias("h")
    )
    out = pp.astar(ewu, _SRC, _DST, heuristic=h)
    return out.select("source", "target", F.round("dist", 2).alias("dist"))


Q89_SQL = Q88_SQL


_FW_CAP = 60  # node-id cap for the all-pairs subgraph


def q90(spark: SparkSession, sf: str) -> DataFrame:
    """Floyd-Warshall APSP via min-plus squaring (reference
    distance/FloydWarshall.hpp:28) on the id<{cap} subgraph of EWU."""
    ewu = _ewu(spark, sf).where(
        (F.col("src") < _FW_CAP) & (F.col("dst") < _FW_CAP)
    )
    d = pp.floyd_warshall(ewu)
    return d.select("src", "dst", F.round("dist", 2).alias("dist")).orderBy(
        "src", "dst"
    )


def _fw_unrolled_sql(rounds: int) -> str:
    parts = [
        f"""fw0 AS MATERIALIZED (
  SELECT src, dst, MIN(dist) AS dist FROM (
    SELECT src, dst, weight AS dist FROM sub
    UNION ALL
    SELECT id, id, 0.0 FROM (
      SELECT src AS id FROM sub UNION SELECT dst AS id FROM sub)
  ) GROUP BY src, dst
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""fw{i} AS MATERIALIZED (
  SELECT src, dst, MIN(dist) AS dist FROM (
    SELECT src, dst, dist FROM fw{i-1}
    UNION ALL
    SELECT f.src, s.dst, f.dist + s.weight AS dist
    FROM fw{i-1} f JOIN sub s ON s.src = f.dst
  ) GROUP BY src, dst
)"""
        )
    return ",\n".join(parts)


Q90_SQL = f"""
WITH ewu AS MATERIALIZED ({EWU_SQL}),
sub AS MATERIALIZED (
  SELECT * FROM ewu WHERE src < {_FW_CAP} AND dst < {_FW_CAP}),
{_fw_unrolled_sql(_BF_ROUNDS)}
SELECT src, dst, ROUND(dist, 2) AS dist FROM fw{_BF_ROUNDS}
"""


_RBFS_ROOT = 7  # a supplier id present at every SF (suppliers have in-edges)


def q91(spark: SparkSession, sf: str) -> DataFrame:
    """ReverseBFS (reference distance/ReverseBFS.hpp:16): hop distances
    along in-edges of the DIRECTED derived graph from a supplier node."""
    e = derived_edges(spark, sf, materialize=True)
    return pp.reverse_bfs(e, _RBFS_ROOT).orderBy("id")


Q91_SQL = f"""
WITH RECURSIVE er AS (
  SELECT dst AS src, src AS dst FROM ({E_SQL})),
b(id, dist) AS (
  SELECT CAST({_RBFS_ROOT} AS BIGINT), 0
  UNION
  SELECT er.dst, b.dist + 1 FROM b JOIN er ON er.src = b.id WHERE b.dist < 20
)
SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM b GROUP BY id
"""


POINT = {
    "q86_st_bfs_distance": (q86, Q86_SQL),
    "q87_multi_target_bfs": (q87, Q87_SQL),
    "q88_bidir_dijkstra": (q88, Q88_SQL),
    "q89_astar": (q89, Q89_SQL),
    "q90_floyd_warshall": (q90, Q90_SQL),
    "q91_reverse_bfs": (q91, Q91_SQL),
}
