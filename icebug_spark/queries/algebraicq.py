"""Query entries for algebraic backend, clustering coefficients,
reachability, cliques, randomization, max-flow (q64-q70)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Opt-in full-scale certificates: ``SPARK_GRAFT_FULLSCALE=1`` lifts the
#: id caps below (and q97's instance caps in ``centralq``) so the
#: uncapped code paths — hub-degree wedge fan-out, multi-augmentation
#: max flow, deeper adaptive sampling — retain periodic oracle coverage.
#: Read at import and interpolated into BOTH the Spark query and its SQL
#: twin, so the comparison stays apples-to-apples either way. The
#: routine sweep keeps the capped instances (identical code paths,
#: ~10x less budget); run the slow variant occasionally and commit the
#: artifact (CORRECTNESS_FULLSCALE.json):
#:     SPARK_GRAFT_FULLSCALE=1 SPARK_GRAFT_ARTIFACT=CORRECTNESS_FULLSCALE.json \
#:         SPARK_GRAFT_QUERY_BUDGET_SECS=600 python tools/check_oracle.py \
#:         /root/testdata/sf0.01 q65_algebraic_triangles \
#:         q69_max_flow_hubs q97_kadabra_betweenness
#: q67 is EXCLUDED from the fullscale list on purpose: its uncapped
#: 6-way join oracle over the dense supplier core is hours-long in
#: DuckDB (the capped id<500 core alone measured 629 s) — the ~35%
#: arithmetic edge sample IS its tracked certificate variant.
FULLSCALE = os.environ.get("SPARK_GRAFT_FULLSCALE") == "1"

from icebug_spark.catalog import EU_SQL, EW_SQL, derived_edges, derived_weighted_edges, symmetrize, derived_edges_undirected
from icebug_spark.operators.algebraic import algebraic_triangle_count
from icebug_spark.operators.cliques import k_cliques, maximal_cliques
from icebug_spark.operators.flow import edmonds_karp
from icebug_spark.operators.randomization import edge_switching
from icebug_spark.operators.reachability import reachable_nodes
from icebug_spark.operators.triangles import global_clustering_coefficient
from icebug_spark.plans.iterate import checkpoint

_ADJN_SQL = f"SELECT src AS node, dst AS nbr FROM ({EU_SQL}) WHERE src <> dst"
_CE_SQL = f"SELECT src AS u, dst AS v FROM ({EU_SQL}) WHERE src < dst"


def _eu(spark: SparkSession, sf: str) -> DataFrame:
    return derived_edges_undirected(spark, sf)


# q64 — global + average clustering coefficient.
def q64(spark: SparkSession, sf: str) -> DataFrame:
    return global_clustering_coefficient(_eu(spark, sf))


Q64_SQL = f"""
WITH ce AS ({_CE_SQL}),
adj AS ({_ADJN_SQL}),
deg AS (SELECT node, COUNT(*) AS deg FROM adj GROUP BY node),
tri AS (
  SELECT COUNT(*) AS n_tri FROM ce e1
  JOIN ce e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN ce e3 ON e3.u = e1.v AND e3.v = e2.v
),
wed AS (SELECT SUM(deg * (deg - 1) / 2) AS n_wedges FROM deg),
lcc AS (
  SELECT d.node,
         CAST(2.0 * COALESCE(t.c, 0) AS DOUBLE) / (d.deg * (d.deg - 1)) AS lcc
  FROM deg d
  LEFT JOIN (
    SELECT node, COUNT(*) AS c FROM (
      SELECT u AS node FROM (
        SELECT e1.u, e1.v AS b, e2.v AS c2 FROM ce e1
        JOIN ce e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN ce e3 ON e3.u = e1.v AND e3.v = e2.v
      )
      UNION ALL
      SELECT b FROM (
        SELECT e1.u, e1.v AS b, e2.v AS c2 FROM ce e1
        JOIN ce e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN ce e3 ON e3.u = e1.v AND e3.v = e2.v
      )
      UNION ALL
      SELECT c2 FROM (
        SELECT e1.u, e1.v AS b, e2.v AS c2 FROM ce e1
        JOIN ce e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN ce e3 ON e3.u = e1.v AND e3.v = e2.v
      )
    ) GROUP BY node
  ) t ON t.node = d.node
  WHERE d.deg >= 2
)
SELECT ROUND(3.0 * tri.n_tri / GREATEST(wed.n_wedges, 1), 6) AS global_cc,
       -- the Spark operator emits per-node lcc ROUNDED to 6dp (q25's
       -- compared surface), so the average must be over the rounded
       -- values too: averaging raw lcc differs by ~5e-9 and flipped the
       -- final 6dp at sf0.1 (0.0716205032 vs 0.0716204980 raw)
       ROUND((SELECT AVG(ROUND(lcc, 6)) FROM lcc), 6) AS avg_cc
FROM tri, wed
"""


# q65 — triangle count via the semiring MxM path (AlgebraicTriangleCounting);
# oracle = the plain SQL triangle count (same number, different engine path).
# Id-capped subgraph: the MxM path materializes ALL wedges (that is what
# A² is — the point of the algebraic surface, vs the m^1.5 oriented path
# q24 uses for the full graph), so the full sf0.01 graph costs ~15 s of
# sweep budget for no extra coverage; the cap exercises the identical
# mxm/e_wise code, mirrored in the oracle.
_Q65_CAP = 10**9 if FULLSCALE else 500


def q65(spark: SparkSession, sf: str) -> DataFrame:
    eu = _eu(spark, sf).where((F.col("src") < _Q65_CAP) & (F.col("dst") < _Q65_CAP))
    return algebraic_triangle_count(eu)


Q65_SQL = f"""
WITH ce AS (SELECT * FROM ({_CE_SQL}) WHERE u < {_Q65_CAP} AND v < {_Q65_CAP})
SELECT COUNT(*) AS n_triangles FROM ce e1
JOIN ce e2 ON e2.u = e1.u AND e2.v > e1.v
JOIN ce e3 ON e3.u = e1.v AND e3.v = e2.v
"""


# q66 — reachable-set sizes from fixed sources (ReachableNodes exact).
_REACH_CAP = 20


def q66(spark: SparkSession, sf: str) -> DataFrame:
    e = derived_edges(spark, sf, materialize=True)
    srcs = [
        r["src"]
        for r in e.select("src").where(F.col("src") < _REACH_CAP).distinct().collect()
    ]
    return reachable_nodes(e, sorted(srcs))


Q66_SQL = f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
reach(source, node) AS (
  SELECT src, src FROM e WHERE src < {_REACH_CAP}
  UNION
  SELECT r.source, e.dst FROM reach r JOIN e ON e.src = r.node
)
SELECT source, COUNT(DISTINCT node) AS n_reachable
FROM reach GROUP BY source
"""


# q67 — 4-clique count (MaximalCliques/k-clique parity, join-ladder form).
# Certificate instance: a deterministic ~35% ARITHMETIC edge sample
# (pure integer hash, bit-identical in Spark and DuckDB), NOT an id cap.
# The derived graph is a dense supplier core — every edge touches one of
# ~100 hub suppliers — so any id window either hits the core (id<500
# keeps 31k edges on 500 nodes and 526k 4-cliques; the 6-join oracle
# alone ran 600+ s) or is empty (windows excluding suppliers have zero
# edges, and degree-capping both endpoints empties it too). Edge
# sampling thins hub degrees uniformly instead: 4-clique survival scales
# as p^6, leaving a non-vacuous (~5k clique) instance that exercises the
# identical k_cliques join ladder over the full id space in <1 s of
# oracle time. FULLSCALE lifts the sample to the whole graph.
_Q67_SAMPLE = (
    "TRUE" if FULLSCALE else "((u*2654435761 + v*40503) % 100) < 35"
)


def q67(spark: SparkSession, sf: str) -> DataFrame:
    eu = _eu(spark, sf)
    u, v = F.least("src", "dst"), F.greatest("src", "dst")
    if not FULLSCALE:
        eu = eu.where(
            F.pmod(u * F.lit(2654435761) + v * F.lit(40503), F.lit(100)) < 35
        )
    return k_cliques(eu, 4).agg(F.count(F.lit(1)).alias("n_4cliques"))


Q67_SQL = f"""
WITH ce AS (SELECT * FROM ({_CE_SQL}) WHERE {_Q67_SAMPLE})
SELECT COUNT(*) AS n_4cliques
FROM ce e1
JOIN ce e2 ON e2.u = e1.u AND e2.v > e1.v
JOIN ce e3 ON e3.u = e1.u AND e3.v > e2.v
JOIN ce e4 ON e4.u = e1.v AND e4.v = e2.v
JOIN ce e5 ON e5.u = e1.v AND e5.v = e3.v
JOIN ce e6 ON e6.u = e2.v AND e6.v = e3.v
"""


# q68 — edge switching: the degree sequence is the invariant, so the
# oracle is the ORIGINAL graph's degree histogram (exact check that the
# chain preserved it).
def q68(spark: SparkSession, sf: str) -> DataFrame:
    eu = _eu(spark, sf)
    switched = edge_switching(
        eu.where(F.col("src") < F.col("dst")), rounds=3, seed=42
    )
    sym = switched.union(
        switched.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes")).orderBy("deg")
    )


Q68_SQL = f"""
WITH adj AS (SELECT src AS node, dst AS nbr FROM ({EU_SQL}) WHERE src < dst
             UNION ALL
             SELECT dst, src FROM ({EU_SQL}) WHERE src < dst),
deg AS (SELECT node, COUNT(*) AS deg FROM adj GROUP BY node)
SELECT deg, COUNT(*) AS n_nodes FROM deg GROUP BY deg ORDER BY deg
"""


# q69 — max flow between the two highest-multiplicity hubs (rows-only:
# augmenting-path iteration has no SQL twin).
_Q69_CAP = 10**9 if FULLSCALE else 400


def q69(spark: SparkSession, sf: str) -> DataFrame:
    # lightest source/sink (min total multiplicity): the hub pair needs
    # hundreds of unit-bottleneck augmentations (163 s at sf0.01); the
    # light pair converges in a handful while exercising the same code.
    # Id-capped subgraph (mirrored in the oracle): each augmentation is a
    # full BFS loop over the residual graph, so graph size multiplies the
    # per-round job count — the cap keeps the certificate inside the
    # sweep budget on the identical code path.
    ew = derived_weighted_edges(spark, sf).where(
        (F.col("src") < _Q69_CAP) & (F.col("dst") < _Q69_CAP)
    )
    hubs = (
        ew.groupBy("src")
        .agg(F.sum("weight").alias("w"))
        .orderBy(F.col("w").asc(), "src")
        .limit(1)
        .collect()
    )
    sinks = (
        ew.groupBy("dst")
        .agg(F.sum("weight").alias("w"))
        .orderBy(F.col("w").asc(), "dst")
        .limit(1)
        .collect()
    )
    s, t = hubs[0]["src"], sinks[0]["dst"]
    cap = checkpoint(ew.select("src", "dst", F.col("weight").alias("capacity")))
    res = edmonds_karp(cap, s, t)
    # MIN-CUT CERTIFICATE: by max-flow/min-cut duality the computed flow
    # is optimal iff the capacity of the cut (source_set -> complement) in
    # the ORIGINAL graph equals the flow value. This turns a value with no
    # SQL twin into a self-certifying boolean the oracle can expect.
    src_set = res["source_set"].select(F.col("id"))
    cut_cap = (
        cap.join(src_set.withColumnRenamed("id", "src"), "src", "leftsemi")
        .join(src_set.withColumnRenamed("id", "dst"), "dst", "left_anti")
        .agg(F.coalesce(F.sum("capacity"), F.lit(0.0)))
        .collect()[0][0]
    )
    out_cap = cap.where(F.col("src") == s).agg(F.sum("capacity")).collect()[0][0]
    mf = float(res["max_flow"])
    spark_df = ew.sparkSession.createDataFrame(
        [
            (
                int(s),
                int(t),
                bool(abs(cut_cap - mf) < 1e-6),
                bool(mf <= out_cap + 1e-6),
                bool(mf > 0),
            )
        ],
        "source BIGINT, sink BIGINT, cut_certifies_optimal BOOLEAN, "
        "within_capacity BOOLEAN, positive_flow BOOLEAN",
    )
    return spark_df


Q69_SQL = f"""
WITH ew AS (SELECT * FROM ({EW_SQL}) WHERE src < {_Q69_CAP} AND dst < {_Q69_CAP}),
s AS (SELECT src FROM ew GROUP BY src ORDER BY SUM(weight) ASC, src LIMIT 1),
t AS (SELECT dst FROM ew GROUP BY dst ORDER BY SUM(weight) ASC, dst LIMIT 1)
SELECT s.src AS source, t.dst AS sink, TRUE AS cut_certifies_optimal,
       TRUE AS within_capacity, TRUE AS positive_flow
FROM s CROSS JOIN t
"""


# q70 — maximal-clique census (rows-only: BK enumeration).
_Q70_CAP = 10**9 if FULLSCALE else 250


def q70(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal-clique certificate (enumeration has no SQL twin; the
    checkable claims): every emitted clique is COMPLETE (all member pairs
    are edges — verified by exploding pairs and anti-joining the edge
    list) and MAXIMAL (no node outside is adjacent to all members), and
    the clique number is >= 3 iff the graph has a triangle (the triangle
    existence bit is recomputed by the oracle from the edge list). Runs on
    the id-capped (_Q70_CAP) subgraph: ego-subgraph BK is quadratic in hub
    degree, and the uncapped sf0.01 graph (avg degree ~80) blows the
    applyInPandas shuffle; the cap keeps every ego subgraph bounded while
    exercising the identical code path (mirrored in the oracle)."""
    eu = checkpoint(
        _eu(spark, sf)
        .where((F.col("src") < _Q70_CAP) & (F.col("dst") < _Q70_CAP))
    )
    mc = checkpoint(maximal_cliques(eu))
    cid = checkpoint(mc.withColumn("cid", F.monotonically_increasing_id()))
    memb = cid.select("cid", F.explode("members").alias("id"))
    pairs = (
        memb.alias("a")
        .join(memb.alias("b"), "cid")
        .where(F.col("a.id") < F.col("b.id"))
        .select("cid", F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    )
    incomplete = pairs.join(eu.select("src", "dst"), ["src", "dst"], "left_anti").count()
    # maximality: an outside node adjacent to every member would extend
    # it. Checked on a deterministic ~10% clique sample (hash of the
    # member list, stable across runs/partitionings) — the completeness
    # half stays exhaustive; sampling only this quadratic-ish join keeps
    # the certificate inside the driver's correctness-run budget while a
    # systematic maximality bug would still trip it.
    samp = cid.where(
        F.crc32(F.concat_ws(",", F.col("members").cast("array<string>"))) % 10 == 0
    )
    # the certificate must never be vacuous: if the hash sample happens to
    # select nothing (small clique census), check every clique instead —
    # cid is checkpointed and tiny, so the count is free.
    if samp.limit(1).count() == 0:
        samp = cid
    smemb = samp.select("cid", F.explode("members").alias("id"))
    csize = samp.select("cid", F.size("members").alias("k"))
    ext = (
        smemb.join(eu, smemb.id == eu.src)
        .select("cid", F.col("dst").alias("cand"))
        .groupBy("cid", "cand")
        .agg(F.count(F.lit(1)).alias("adj"))
        .join(smemb.withColumnRenamed("id", "cand"), ["cid", "cand"], "left_anti")
        .join(csize, "cid")
        .where(F.col("adj") >= F.col("k"))
        .count()
    )
    return mc.agg(
        (F.max(F.size("members")) >= 3).alias("clique_number_ge_3"),
        F.lit(incomplete == 0).alias("all_complete"),
        F.lit(ext == 0).alias("all_maximal"),
        (F.count(F.lit(1)) > 0).alias("nonempty"),
    )


Q70_SQL = f"""
WITH eu AS (SELECT * FROM ({EU_SQL}) WHERE src < {_Q70_CAP} AND dst < {_Q70_CAP}),
tri AS (
  SELECT 1 FROM eu a JOIN eu b ON b.src = a.dst AND b.dst > a.src
  JOIN eu c ON c.src = b.dst AND c.dst = a.src
  WHERE a.src < a.dst LIMIT 1
)
SELECT EXISTS (SELECT * FROM tri) AS clique_number_ge_3,
       TRUE AS all_complete, TRUE AS all_maximal, TRUE AS nonempty
"""


# q114 — commute-time / effective-resistance via the LAMG multilevel
# solver (numerics/LAMG/Lamg.hpp:32 + distance/CommuteTimeDistance.hpp:24).
# The solve is iterative-float (no SQL twin); the certificate checks the
# distributed solve against closed-form truth on the same capped subgraph:
# |R_lamg − R_pinv| tiny (numpy pseudo-inverse of the collected capped
# Laplacian — legitimate driver-side truth at certificate scale),
# resistance positive, and R ≤ hop distance (unit-weight identity).
def q114(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np

    from icebug_spark.operators.numerics3 import lamg_solve

    eu = checkpoint(
        _eu(spark, sf)
        .where((F.col("src") < 60) & (F.col("dst") < 60))
    )
    # ONE collect feeds hubs, the node list, AND the closed-form truth
    # below — the certificate instance is 60 nodes by construction, and
    # three separate driver actions were pure job-floor overhead
    eu_rows = eu.collect()
    import collections as _cl

    _dcount: dict[int, int] = _cl.Counter(int(r["src"]) for r in eu_rows)
    hubs = sorted(_dcount, key=lambda k: (-_dcount[k], k))[:2]
    u, v = hubs[0], hubs[1]
    # canonical one-direction edges: the solver symmetrizes internally,
    # so feeding both directions would double every Laplacian entry
    ew = eu.where(F.col("src") < F.col("dst")).withColumn("weight", F.lit(1.0))
    nodes = sorted(_dcount)
    b = spark.createDataFrame(
        [(u, 1.0), (v, -1.0)] + [(n, 0.0) for n in nodes if n not in (u, v)],
        "id BIGINT, x DOUBLE",
    )
    x = {
        r["id"]: r["x"]
        # sweeps=2: the V(2,2) cycle converges this instance in ~5 PCG
        # iterations where V(1,1) needs 10+ — fewer driver round-trips
        # dominate the extra lazy smoother sweeps (measured 28.6->20.6 s)
        # coarsest=36: affinity matching coarsens this 60-node instance
        # to ~32 — one aggregation level + the exact coarse solve. 30
        # would trigger a SECOND full matching+contraction level for 13
        # nodes of progress (measured ~8 s of pure setup at job floor).
        # tol=1e-5: the certificate margin below is 1e-4, so the old
        # 1e-6 stopping tolerance bought nothing but extra PCG cycles
        # (each one a fixed stack of driver-synchronous jobs)
        for r in lamg_solve(
            ew, b, tol=1e-5, max_cycles=10, coarsest=36, sweeps=2
        ).collect()
    }
    r_lamg = x[u] - x[v]
    # closed-form truth on the same capped subgraph
    idx = {n: i for i, n in enumerate(nodes)}
    L = np.zeros((len(nodes), len(nodes)))
    dist = {u: 0}
    import collections

    adj = collections.defaultdict(list)
    for row in eu_rows:  # eu carries both directions
        s, t = int(row["src"]), int(row["dst"])
        adj[s].append(t)
        if s < t:  # count each undirected edge once, like the solver
            L[idx[s], idx[s]] += 1.0
            L[idx[t], idx[t]] += 1.0
            L[idx[s], idx[t]] -= 1.0
            L[idx[t], idx[s]] -= 1.0
    q = collections.deque([u])
    while q:
        cur = q.popleft()
        for nb in adj[cur]:
            if nb not in dist:
                dist[nb] = dist[cur] + 1
                q.append(nb)
    vec = np.zeros(len(nodes))
    vec[idx[u]], vec[idx[v]] = 1.0, -1.0
    sol = np.linalg.pinv(L) @ vec
    r_exact = float(sol[idx[u]] - sol[idx[v]])
    hop = dist.get(v)
    return spark.createDataFrame(
        [
            (
                bool(abs(r_lamg - r_exact) < 1e-4),
                bool(r_lamg > 0),
                bool(hop is not None and r_lamg <= hop + 1e-9),
            )
        ],
        "matches_pinv BOOLEAN, positive BOOLEAN, below_hop_distance BOOLEAN",
    )


Q114_SQL = """
SELECT TRUE AS matches_pinv, TRUE AS positive, TRUE AS below_hop_distance
"""


ALGEBRAIC = {
    "q64_clustering_coefficients": (q64, Q64_SQL),
    "q65_algebraic_triangles": (q65, Q65_SQL),
    "q66_reachable_nodes": (q66, Q66_SQL),
    "q67_four_cliques": (q67, Q67_SQL),
    "q68_edge_switch_degrees": (q68, Q68_SQL),
    "q69_max_flow_hubs": (q69, Q69_SQL),
    "q70_maximal_cliques": (q70, Q70_SQL),
    "q114_commute_time_lamg": (q114, Q114_SQL),
}
