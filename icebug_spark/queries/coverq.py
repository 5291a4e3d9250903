"""Coverage queries q115-q130: oracle-backed checks for the GraphTools /
matching / coarsening / dynamic-update operators that previously had only
pytest goldens (the VERDICT r4 "golden"-only rows).

Conventions match the other query modules: full-value DuckDB twins
wherever SQL can express the result (graph summaries, degree histograms,
dense relabels, coarsening, BFS-based measures); certificate invariants
with literal-TRUE oracles where the algorithm's output is greedy/seeded
and not SQL-reproducible (suitor matching, matching coarsening, Leiden).
Reference parity pointers live in the operator modules' docstrings.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FULLSCALE = os.environ.get("SPARK_GRAFT_FULLSCALE") == "1"

from icebug_spark.catalog import (
    E_SQL,
    EU_SQL,
    EW_SQL,
    derived_edges,
    derived_edges_undirected,
    derived_weighted_edges,
)
from icebug_spark.graph import tools
from icebug_spark.graph.core import Graph
from icebug_spark.operators import community, community2, matching
from icebug_spark.operators.centrality import harmonic_closeness_sampled
from icebug_spark.operators.distances import neighborhood_function
from icebug_spark.operators.reachability import all_simple_paths
from icebug_spark.operators.traversal import bfs_distances
from icebug_spark.plans.iterate import checkpoint
from icebug_spark.streaming.dynamic2 import affected_nodes, dyn_bfs_update

#: disjoint-id offset for the bipartite-by-construction DAG variants
_OFF = 1_000_000


def _eu(spark: SparkSession, sf: str) -> DataFrame:
    return derived_edges_undirected(spark, sf)


# q115 — graph summary: GraphTools size/density/volume/maxDegree surface
# (reference graph/GraphTools.hpp:24,132-149) in one row.
def q115(spark: SparkSession, sf: str) -> DataFrame:
    e = derived_edges(spark, sf, materialize=True)
    g = Graph(e, directed=True)
    gw = Graph(derived_weighted_edges(spark, sf), directed=True, weighted=True)
    n = g.number_of_nodes()
    m = g.number_of_edges()
    raw = spark.createDataFrame(
        [
            (
                n,
                m,
                m / (n * (n - 1)),
                float(tools.volume(gw)),
                tools.max_degree(g),
                float(tools.max_weighted_degree(gw)),
            )
        ],
        "n_nodes BIGINT, n_edges BIGINT, density DOUBLE, volume DOUBLE, "
        "max_degree BIGINT, max_wdegree DOUBLE",
    )
    # F.round (HALF_UP) matches DuckDB ROUND; Python round() is banker's
    return raw.withColumn("density", F.round("density", 6))


Q115_SQL = f"""
WITH e AS ({E_SQL}),
nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
eu AS ({EU_SQL}),
deg AS (SELECT src AS id, COUNT(*) AS d FROM eu GROUP BY src),
ew AS ({EW_SQL}),
wdeg AS (SELECT src AS id, SUM(weight) AS wd FROM ew GROUP BY src)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       ROUND(CAST((SELECT COUNT(*) FROM e) AS DOUBLE)
             / ((SELECT COUNT(*) FROM nodes) * ((SELECT COUNT(*) FROM nodes) - 1)), 6) AS density,
       (SELECT SUM(weight) FROM ew) AS volume,
       (SELECT MAX(d) FROM deg) AS max_degree,
       (SELECT MAX(wd) FROM wdeg) AS max_wdegree
"""


# q116 — transpose + merge: merge(E, transpose(E)) must equal EU
# (GraphTools.hpp:330,347); checked via the full degree histogram.
def q116(spark: SparkSession, sf: str) -> DataFrame:
    g = Graph(derived_edges(spark, sf, materialize=True), directed=True)
    merged = tools.merge_graphs(g, g.transpose())
    deg = merged.edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg.groupBy(F.col("d").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


Q116_SQL = f"""
WITH eu AS ({EU_SQL}),
deg AS (SELECT src, COUNT(*) AS degree FROM eu GROUP BY src)
SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree ORDER BY degree
"""


# q117 — topological sort on the bipartite-by-construction DAG (supplier
# ids offset past the customer id space): layer 0 must be exactly the
# customer side, layer 1 the supplier side (graph/TopologicalSort.hpp:22 —
# the frontier-peeling loop is exercised for real; a cycle or a missed
# node changes the histogram).
def q117(spark: SparkSession, sf: str) -> DataFrame:
    e = derived_edges(spark, sf, materialize=True).select(
        "src", (F.col("dst") + _OFF).alias("dst")
    )
    order = tools.topological_sort(Graph(e, directed=True))
    return (
        order.groupBy("layer")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("layer")
    )


Q117_SQL = f"""
WITH e AS ({E_SQL})
SELECT CAST(0 AS BIGINT) AS layer, COUNT(DISTINCT src) AS n_nodes FROM e
UNION ALL
SELECT CAST(1 AS BIGINT), COUNT(DISTINCT dst) FROM e
ORDER BY layer
"""


# q118 — isBipartite decisions (GraphTools.hpp:583) on two real graphs:
# the disjoint-id customer/supplier split (bipartite by construction) and
# a 5-cycle (odd cycle -> not bipartite). The oracle pins the expected
# truth values; the parity-propagation loop runs for real on the derived
# graph.
def q118(spark: SparkSession, sf: str) -> DataFrame:
    e = derived_edges(spark, sf, materialize=True).select(
        "src", (F.col("dst") + _OFF).alias("dst")
    )
    bip = tools.is_bipartite(Graph(e, directed=False))
    c5 = spark.range(5).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 5).alias("dst")
    )
    odd = tools.is_bipartite(Graph(c5, directed=False))
    return spark.createDataFrame(
        [(bool(bip), bool(odd))],
        "bipartite_split BOOLEAN, bipartite_c5 BOOLEAN",
    )


Q118_SQL = "SELECT TRUE AS bipartite_split, FALSE AS bipartite_c5"


# q119 — harmonic closeness for the sampled sources id < 8
# (centrality/HarmonicCloseness.hpp:18): sum(1/dist), 6dp.
def q119(spark: SparkSession, sf: str) -> DataFrame:
    h = harmonic_closeness_sampled(_eu(spark, sf), list(range(8)), max_hops=20)
    return h.select("id", F.round("harmonic", 6).alias("harmonic"))


Q119_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu),
b(s, id, dist) AS (
  SELECT id, id, 0 FROM nodes WHERE id < 8
  UNION
  SELECT b.s, eu.dst, b.dist + 1 FROM b JOIN eu ON eu.src = b.id WHERE b.dist < 20
),
d AS (SELECT s, id, MIN(dist) AS dist FROM b GROUP BY s, id)
SELECT s AS id, ROUND(SUM(1.0 / dist), 6) AS harmonic
FROM d WHERE dist > 0 GROUP BY s
"""


# q120 — sortEdgesByWeight (GraphTools.hpp:411): top-100 heaviest edges,
# deterministic (weight DESC, src, dst) total order.
def q120(spark: SparkSession, sf: str) -> DataFrame:
    gw = Graph(derived_weighted_edges(spark, sf), directed=True, weighted=True)
    return tools.sort_edges_by_weight(gw, descending=True).limit(100)


Q120_SQL = f"""
WITH ew AS ({EW_SQL})
SELECT src, dst, weight FROM ew ORDER BY weight DESC, src, dst LIMIT 100
"""


# q121 — induced subgraph on degree >= 10 nodes + compactNodeIds
# (GraphTools.hpp:208-292,355-375): the compacted edge list must equal
# SQL's DENSE_RANK relabel — a full-value oracle for the two-pass
# zipWithIndex dense index.
def q121(spark: SparkSession, sf: str) -> DataFrame:
    g = Graph(_eu(spark, sf), directed=True)
    hot = g.degrees().where(F.col("degree") >= 10).select("id")
    compacted, _mapping = tools.compact_node_ids(g.subgraph(hot))
    return compacted.edges.select("src", "dst")


Q121_SQL = f"""
WITH eu AS ({EU_SQL}),
deg AS (SELECT src AS id, COUNT(*) AS d FROM eu GROUP BY src),
hot AS (SELECT id FROM deg WHERE d >= 10),
sub AS (SELECT src, dst FROM eu
        WHERE src IN (SELECT id FROM hot) AND dst IN (SELECT id FROM hot)),
ids AS (SELECT DISTINCT src AS id FROM sub UNION SELECT DISTINCT dst FROM sub),
m AS (SELECT id, DENSE_RANK() OVER (ORDER BY id) - 1 AS new_id FROM ids)
SELECT ms.new_id AS src, md.new_id AS dst
FROM sub JOIN m ms ON sub.src = ms.id JOIN m md ON sub.dst = md.id
"""


# q122 — ParallelPartitionCoarsening (coarsening/
# ParallelPartitionCoarsening.hpp:20) with the SQL-expressible partition
# id % 20: super-edge weights are a full-value oracle.
def q122(spark: SparkSession, sf: str) -> DataFrame:
    ew = derived_weighted_edges(spark, sf)
    nodes = (
        ew.select(F.col("src").alias("id"))
        .union(ew.select(F.col("dst").alias("id")))
        .distinct()
    )
    part = nodes.select("id", (F.col("id") % 20).alias("subset"))
    return community.coarsen(ew, part)


Q122_SQL = f"""
WITH ew AS ({EW_SQL})
SELECT src % 20 AS src, dst % 20 AS dst, SUM(weight) AS weight
FROM ew GROUP BY src % 20, dst % 20
"""


# q123 — NeighborhoodFunction (distance/NeighborhoodFunction.hpp:19,
# sampled variant): N(h) for h=1..3 over sources id < 8.
def q123(spark: SparkSession, sf: str) -> DataFrame:
    nf = neighborhood_function(_eu(spark, sf), list(range(8)), max_h=3)
    return nf.select(F.col("h").cast("long").alias("h"), "n_pairs").orderBy("h")


Q123_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
nodes AS (SELECT DISTINCT src AS id FROM eu),
b(s, id, dist) AS (
  SELECT id, id, 0 FROM nodes WHERE id < 8
  UNION
  SELECT b.s, eu.dst, b.dist + 1 FROM b JOIN eu ON eu.src = b.id WHERE b.dist < 3
),
d AS (SELECT s, id, MIN(dist) AS dist FROM b GROUP BY s, id),
hs AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (2), (3)) t(h))
SELECT h, COUNT(*) AS n_pairs
FROM hs JOIN d ON d.dist <= h AND d.dist > 0
GROUP BY h ORDER BY h
"""


# q124 — AllSimplePaths (reachability/AllSimplePaths.hpp:21) node 1 -> 2,
# cutoff 2: path-length histogram is a full-value oracle (length-1 = the
# direct edge, length-2 = common neighbors).
def q124(spark: SparkSession, sf: str) -> DataFrame:
    paths = all_simple_paths(_eu(spark, sf), source=1, target=2, cutoff=2)
    return (
        paths.select((F.size("path") - 1).cast("long").alias("len"))
        .groupBy("len")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy("len")
    )


Q124_SQL = f"""
WITH eu AS ({EU_SQL}),
p AS (
  SELECT CAST(1 AS BIGINT) AS len FROM eu WHERE src = 1 AND dst = 2
  UNION ALL
  SELECT CAST(2 AS BIGINT) FROM eu a JOIN eu b ON a.dst = b.src
  WHERE a.src = 1 AND b.dst = 2 AND a.dst <> 1 AND a.dst <> 2
)
SELECT len, COUNT(*) AS n_paths FROM p GROUP BY len ORDER BY len
"""


# q125 — DynBFS (distance/DynBFS.hpp:19): BFS distances maintained under
# an insertion batch must equal the static BFS on the final graph — the
# oracle recomputes that static answer from scratch.
def q125(spark: SparkSession, sf: str) -> DataFrame:
    eu = _eu(spark, sf)
    re_added = eu.where((F.col("src") + F.col("dst")) % 23 == 0)
    old = eu.join(re_added, ["src", "dst"], "left_anti")
    dist0 = bfs_distances(old, source=1, max_hops=30)
    batch = re_added.select(
        F.lit("EDGE_ADDITION").alias("type"),
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
    )
    newd = dyn_bfs_update(dist0, eu, batch)
    return (
        newd.select(F.col("dist").cast("long").alias("dist"))
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("dist")
    )


Q125_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
b(id, dist) AS (
  SELECT CAST(1 AS BIGINT), 0
  UNION
  SELECT eu.dst, b.dist + 1 FROM b JOIN eu ON eu.src = b.id WHERE b.dist < 30
),
d AS (SELECT id, MIN(dist) AS dist FROM b GROUP BY id)
SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes
FROM d GROUP BY dist ORDER BY dist
"""


# q126 — SuitorMatcher (matching/SuitorMatcher.hpp:23, b=1) certificate:
# the mutual-proposal rounds must produce a VALID (no node matched twice)
# and MAXIMAL (no edge with both endpoints free) matching. Greedy order
# isn't SQL-reproducible, so the oracle pins the invariants.
def q126(spark: SparkSession, sf: str) -> DataFrame:
    ew = derived_weighted_edges(spark, sf)
    m = checkpoint(matching.b_suitor_matching(ew, b=1))
    both = m.select(F.col("u").alias("id")).union(m.select(F.col("v").alias("id")))
    overmatched = (
        both.groupBy("id").agg(F.count(F.lit(1)).alias("k")).where(F.col("k") > 1).count()
    )
    matched_nodes = both.distinct()
    canon = ew.where(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    free_free = (
        canon.join(matched_nodes.withColumnRenamed("id", "u"), "u", "left_anti")
        .join(matched_nodes.withColumnRenamed("id", "v"), "v", "left_anti")
        .count()
    )
    return spark.createDataFrame(
        [(overmatched == 0, free_free == 0, m.count() >= 1)],
        "valid_matching BOOLEAN, maximal BOOLEAN, has_matches BOOLEAN",
    )


Q126_SQL = (
    "SELECT TRUE AS valid_matching, TRUE AS maximal, TRUE AS has_matches"
)


# q127 — BSuitorMatcher (matching/BSuitorMatcher.hpp:24, b=2)
# certificate: per-node multiplicity <= 2, no duplicate pairs, saturation
# (no unmatched edge whose BOTH endpoints still have spare capacity).
def q127(spark: SparkSession, sf: str) -> DataFrame:
    ew = derived_weighted_edges(spark, sf)
    m = checkpoint(matching.b_suitor_matching(ew, b=2))
    both = m.select(F.col("u").alias("id")).union(m.select(F.col("v").alias("id")))
    counts = both.groupBy("id").agg(F.count(F.lit(1)).alias("k"))
    overmatched = counts.where(F.col("k") > 2).count()
    dup_pairs = m.count() - m.select("u", "v").distinct().count()
    spare = counts.where(F.col("k") < 2).select("id")
    canon = ew.where(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    unmatched = canon.join(m.select("u", "v"), ["u", "v"], "left_anti")
    # nodes entirely unmatched also have spare capacity
    nodes = canon.select(F.col("u").alias("id")).union(
        canon.select(F.col("v").alias("id"))
    ).distinct()
    with_spare = nodes.join(counts.where(F.col("k") >= 2), "id", "left_anti")
    addable = (
        unmatched.join(with_spare.withColumnRenamed("id", "u"), "u", "leftsemi")
        .join(with_spare.withColumnRenamed("id", "v"), "v", "leftsemi")
        .count()
    )
    return spark.createDataFrame(
        [(overmatched == 0, dup_pairs == 0, addable == 0, m.count() >= 1)],
        "valid_b_matching BOOLEAN, no_dup_pairs BOOLEAN, saturated BOOLEAN, "
        "has_matches BOOLEAN",
    )


Q127_SQL = (
    "SELECT TRUE AS valid_b_matching, TRUE AS no_dup_pairs, "
    "TRUE AS saturated, TRUE AS has_matches"
)


# q128 — MatchingCoarsening (coarsening/MatchingCoarsening.hpp:21)
# certificate: contracting a LocalMax matching must conserve total edge
# weight (coarse inter-super weight + contracted intra weight = fine
# total) and shrink the node count by exactly the number of matched
# pairs.
def q128(spark: SparkSession, sf: str) -> DataFrame:
    ew = derived_weighted_edges(spark, sf)
    m = checkpoint(matching.local_max_matching(ew))
    coarse = matching.matching_coarsening(ew, m)
    total_fine = ew.agg(F.sum("weight")).collect()[0][0]
    total_coarse = coarse.agg(F.sum("weight")).collect()[0][0] or 0.0
    # intra weight = fine edges whose endpoints land on the same super
    sup = m.select(F.col("u").alias("id"), F.least("u", "v").alias("super")).union(
        m.select(F.col("v").alias("id"), F.least("u", "v").alias("super"))
    )
    nodes = (
        ew.select(F.col("src").alias("id"))
        .union(ew.select(F.col("dst").alias("id")))
        .distinct()
    )
    mapping = nodes.join(sup, "id", "left").select(
        "id", F.coalesce("super", F.col("id")).alias("super")
    )
    intra = (
        ew.join(mapping.select(F.col("id").alias("src"), F.col("super").alias("cs")), "src")
        .join(mapping.select(F.col("id").alias("dst"), F.col("super").alias("cd")), "dst")
        .where(F.col("cs") == F.col("cd"))
        .agg(F.sum("weight"))
        .collect()[0][0]
        or 0.0
    )
    conserved = abs((total_coarse + intra) - total_fine) < 1e-6
    n_nodes = nodes.count()
    n_pairs = m.count()
    n_supers = mapping.select("super").distinct().count()
    return spark.createDataFrame(
        [(bool(conserved), n_supers == n_nodes - n_pairs, n_pairs >= 1)],
        "weight_conserved BOOLEAN, super_count_ok BOOLEAN, has_matches BOOLEAN",
    )


Q128_SQL = (
    "SELECT TRUE AS weight_conserved, TRUE AS super_count_ok, "
    "TRUE AS has_matches"
)


# q129 — ParallelLeiden (community/ParallelLeiden.hpp:26) quality
# certificate, same invariants as q37's PLM check: valid partition,
# >= 1 community, modularity never below the singleton partition's.
# The full-graph 2-level run with default rounds takes minutes at sf0.01
# — not data volume but the per-round job floor (each of the 24 default
# move/refine rounds is several driver-synchronous jobs), so the gate
# instance caps node ids and trims to the minimal round schedule that
# still runs the full move -> refine -> aggregate pipeline twice;
# SPARK_GRAFT_FULLSCALE=1 lifts the cap (same opt-in as algebraicq's
# certificates).
_Q129_CAP = 10**9 if FULLSCALE else 300
_Q129_MOVES = 4 if FULLSCALE else 2
_Q129_REFINES = 2 if FULLSCALE else 1


def q129(spark: SparkSession, sf: str) -> DataFrame:
    eu = checkpoint(
        _eu(spark, sf)
        .where((F.col("src") < _Q129_CAP) & (F.col("dst") < _Q129_CAP))
    )
    part = checkpoint(community2.leiden(
        eu, levels=2, move_rounds=_Q129_MOVES, refine_rounds=_Q129_REFINES
    ))
    # certificate stats fused: ONE aggregate over part (rows/ids/comms),
    # ONE over the degree table (n_nodes rides the same agg as the
    # singleton-modularity terms) — was five separate count jobs
    prow = part.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("id").alias("ids"),
        F.countDistinct("subset").alias("ncomm"),
    ).collect()[0]
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    row = deg.agg(
        F.sum(F.col("deg") * F.col("deg")).alias("sq"),
        F.sum("deg").alias("m2"),
        F.count(F.lit(1)).alias("n_nodes"),
    ).collect()[0]
    valid = prow["rows"] == prow["ids"] == row["n_nodes"]
    ncomm = prow["ncomm"]
    q_l = community.modularity(eu, part).collect()[0]["modularity"]
    q_singleton = -float(row["sq"]) / (float(row["m2"]) ** 2)
    return spark.createDataFrame(
        [(bool(valid), ncomm >= 1, bool(q_l >= round(q_singleton, 6) - 1e-6))],
        "valid_partition BOOLEAN, has_communities BOOLEAN, "
        "mod_ge_singleton BOOLEAN",
    )


Q129_SQL = """
SELECT TRUE AS valid_partition, TRUE AS has_communities,
       TRUE AS mod_ge_singleton
"""


# q130 — AffectedNodes (distance/AffectedNodes.hpp:17): the 2-hop
# neighborhood (in the updated graph) of a node-1 edge-removal batch —
# full-value oracle via two explicit SQL expansion steps.
def q130(spark: SparkSession, sf: str) -> DataFrame:
    eu = _eu(spark, sf)
    dropped = eu.where((F.col("src") == 1) | (F.col("dst") == 1))
    new_edges = eu.join(dropped, ["src", "dst"], "left_anti")
    batch = dropped.select(
        F.lit("EDGE_REMOVAL").alias("type"),
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
    )
    return affected_nodes(new_edges, batch, hops=2).orderBy("id")


Q130_SQL = f"""
WITH eu0 AS ({EU_SQL}),
eu AS (SELECT src, dst FROM eu0 WHERE src <> 1 AND dst <> 1),
seeds AS (SELECT DISTINCT id FROM (
  SELECT CAST(1 AS BIGINT) AS id
  UNION ALL SELECT dst FROM eu0 WHERE src = 1
  UNION ALL SELECT src FROM eu0 WHERE dst = 1)),
h1 AS (SELECT DISTINCT id FROM (
  SELECT id FROM seeds
  UNION ALL SELECT eu.dst AS id FROM eu JOIN seeds ON eu.src = seeds.id)),
h2 AS (SELECT DISTINCT id FROM (
  SELECT id FROM h1
  UNION ALL SELECT eu.dst AS id FROM eu JOIN h1 ON eu.src = h1.id))
SELECT id FROM h2 ORDER BY id
"""


# q131 — ROCMetric (linkprediction/ROCMetric.hpp) full-value oracle:
# score = edge weight, truth = the deterministic (u+v)%3 pair subset.
# Exercises the distributed prefix-sum curve sweep
# (plans.zipindex.running_sums) against DuckDB's window cumulative.
def q131(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.linkpred2 import roc_points

    ew = derived_weighted_edges(spark, sf)
    preds = (
        ew.where(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .agg(F.max("weight").alias("score"))
    )
    truth = preds.where((F.col("u") + F.col("v")) % 3 == 0).select("u", "v")
    return roc_points(preds, truth, "score")


Q131_SQL = f"""
WITH ew AS ({EW_SQL}),
canon AS (SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,
                 MAX(weight) AS s
          FROM ew WHERE src <> dst GROUP BY 1, 2),
lab AS (SELECT u, v, s, CASE WHEN (u + v) % 3 = 0 THEN 1 ELSE 0 END AS pos
        FROM canon),
per AS (SELECT s, SUM(pos) AS tp_d, SUM(1 - pos) AS fp_d FROM lab GROUP BY s),
cum AS (SELECT s, SUM(tp_d) OVER (ORDER BY s DESC) AS tp,
               SUM(fp_d) OVER (ORDER BY s DESC) AS fp FROM per),
tot AS (SELECT SUM(pos) AS p, SUM(1 - pos) AS n FROM lab)
-- DISTINCT over the ROUNDED pair mirrors roc_points' trailing
-- .distinct() (linkpred2.py:271): both sides dedup (fpr,tpr) at 6dp, so
-- thresholds that round to the same point collapse identically at any SF.
SELECT DISTINCT
  ROUND(CAST(fp AS DOUBLE) / GREATEST(n, 1), 6) AS fpr,
  ROUND(CAST(tp AS DOUBLE) / GREATEST(p, 1), 6) AS tpr
FROM cum, tot
"""


# q132 — DynConnectedComponents (components/
# DynConnectedComponents.hpp:31): labels maintained under an insertion
# batch must equal the static CC of the final graph; the oracle
# recomputes the component-size histogram from scratch (q28's recursive
# CTE shape).
def q132(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.components import connected_components
    from icebug_spark.streaming.dynamic2 import dyn_cc_update

    eu = _eu(spark, sf)
    re_added = eu.where((F.col("src") + F.col("dst")) % 17 == 0)
    old = eu.join(re_added, ["src", "dst"], "left_anti")
    comp0 = connected_components(old)
    batch = re_added.select(
        F.lit("EDGE_ADDITION").alias("type"),
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
    )
    comp = dyn_cc_update(comp0, eu, batch)
    return (
        comp.groupBy(F.col("component").alias("component_min_id"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy("component_min_id")
    )


Q132_SQL = f"""
WITH RECURSIVE eu AS ({EU_SQL}),
reach(node, label) AS (
  SELECT src, src FROM eu
  UNION
  SELECT eu.dst, r.label FROM reach r JOIN eu ON eu.src = r.node
  WHERE r.label < eu.dst
)
SELECT component_min_id, COUNT(*) AS size
FROM (SELECT node, MIN(label) AS component_min_id FROM reach GROUP BY node)
GROUP BY component_min_id ORDER BY component_min_id
"""


# q133 — Tarjan biconnectivity (components2: BiconnectedComponents.hpp,
# articulation points, bridges) on the min-neighbor forest of the
# derived graph. A min-id-neighbor edge set is provably acyclic, so the
# expected answers are SQL-derivable: EVERY forest edge is a bridge and
# its own biconnected component, and a forest node is an articulation
# point iff its degree >= 2. Full-value oracle for the Tarjan path.
def q133(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.components2 import (
        articulation_points,
        biconnected_components,
        bridges,
    )

    # self-arcs (a node id that is both customer and supplier buying from
    # itself) are excluded: Tarjan's adjacency drops self-loops, so the
    # SQL twin must never count one as a forest edge
    eu = _eu(spark, sf).where(F.col("src") != F.col("dst"))
    forest = checkpoint(
        eu.groupBy("src")
        .agg(F.min("dst").alias("dst"))
        .select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
    )
    n_edges = forest.count()
    n_bridges = bridges(forest).count()
    n_art = articulation_points(forest).count()
    n_bcc = biconnected_components(forest).select("bcc").distinct().count()
    return spark.createDataFrame(
        [(n_edges, n_bridges, n_art, n_bcc)],
        "n_edges BIGINT, n_bridges BIGINT, n_articulation BIGINT, n_bcc BIGINT",
    )


Q133_SQL = f"""
WITH eu AS (SELECT * FROM ({EU_SQL}) WHERE src <> dst),
mn AS (SELECT src, MIN(dst) AS dst FROM eu GROUP BY src),
forest AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v FROM mn),
deg AS (SELECT id, COUNT(*) AS d FROM
        (SELECT u AS id FROM forest UNION ALL SELECT v FROM forest) GROUP BY id)
SELECT (SELECT COUNT(*) FROM forest) AS n_edges,
       (SELECT COUNT(*) FROM forest) AS n_bridges,
       (SELECT COUNT(*) FROM deg WHERE d >= 2) AS n_articulation,
       (SELECT COUNT(*) FROM forest) AS n_bcc
"""


COVER = {
    "q115_graph_summary": (q115, Q115_SQL),
    "q116_transpose_merge": (q116, Q116_SQL),
    "q117_toposort_layers": (q117, Q117_SQL),
    "q118_bipartite_flags": (q118, Q118_SQL),
    "q119_harmonic_sampled": (q119, Q119_SQL),
    "q120_sorted_edges_top100": (q120, Q120_SQL),
    "q121_compact_subgraph": (q121, Q121_SQL),
    "q122_partition_coarsening": (q122, Q122_SQL),
    "q123_neighborhood_function": (q123, Q123_SQL),
    "q124_simple_paths_hist": (q124, Q124_SQL),
    "q125_dynbfs_inserts": (q125, Q125_SQL),
    "q126_suitor_cert": (q126, Q126_SQL),
    "q127_bsuitor_cert": (q127, Q127_SQL),
    "q128_matching_coarsen_cert": (q128, Q128_SQL),
    "q129_leiden_quality": (q129, Q129_SQL),
    "q130_affected_nodes": (q130, Q130_SQL),
    "q131_roc_curve": (q131, Q131_SQL),
    "q132_dyncc_inserts": (q132, Q132_SQL),
    "q133_biconnected_forest": (q133, Q133_SQL),
}
