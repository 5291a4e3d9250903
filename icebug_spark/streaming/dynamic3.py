"""Dynamic centrality + matching maintenance (part 3 of the Dyn* family).

Parity targets (reference):
- DynBetweenness            ``centrality/DynBetweenness.hpp:35``
- DynApproxBetweenness      ``centrality/DynApproxBetweenness.hpp:23``
- DynTopHarmonicCloseness   ``centrality/DynTopHarmonicCloseness.hpp:26``
- DynamicBSuitorMatcher     ``matching/DynamicBSuitorMatcher.hpp:19``

Design — incremental by AFFECTED-SOURCE splice, the distributed analog of
the reference's per-edge dependency patching:

For an unweighted undirected graph, inserting edge (u, v) changes the
SSSP DAG of source s only when ``|d(s,u) − d(s,v)| >= 1`` (gap 0 means
the edge connects equals-distance nodes — no shortest path can use it;
gap 1 adds new shortest paths, changing σ counts; gap > 1 shortens
distances). The gap test is ONE filter over the cached distance table —
no graph traversal — and the recompute is confined to the affected
sources: distances + Brandes deltas (or harmonic sums) are re-run for
that subset and spliced over the cached rows of the unaffected sources.
At cluster scale the cached tables are the same (source, id, …)-keyed
DataFrames every static operator produces, so cache + splice is a
union/anti-join, not a new machinery.

DynamicBSuitorMatcher performs DROP-AND-REPAIR: the touched endpoints'
matches dissolve and the suitor rounds re-run over the edges whose both
endpoints still have spare capacity — the distributed analog of the
reference's displaced-suitor cascade (see the class docstring; validity
AND maximality are restored globally, cost scales with the spare
region).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.matching import b_suitor_matching
from icebug_spark.operators.traversal import multi_source_bfs
from icebug_spark.plans.iterate import checkpoint


def _with_edge(eu: DataFrame, u: int, v: int) -> DataFrame:
    spark = eu.sparkSession
    add = spark.createDataFrame([(u, v), (v, u)], "src BIGINT, dst BIGINT")
    return checkpoint(eu.select("src", "dst").union(add).distinct())


def _affected_sources(dist: DataFrame, u: int, v: int, min_gap: int) -> DataFrame:
    """Sources where |d(s,u) − d(s,v)| >= min_gap, treating one-sided
    unreachability as an infinite gap (both-unreachable is unaffected)."""
    du = dist.where(F.col("id") == u).select("source", F.col("dist").alias("du"))
    dv = dist.where(F.col("id") == v).select("source", F.col("dist").alias("dv"))
    gap = du.join(dv, "source", "full").select(
        "source",
        F.when(
            F.col("du").isNull() | F.col("dv").isNull(), F.lit(1 << 30)
        ).otherwise(F.abs(F.col("du") - F.col("dv"))).alias("gap"),
    )
    return gap.where(F.col("gap") >= min_gap).select("source")


class DynBetweenness:
    """Incremental (sampled-source) Brandes betweenness. With sources =
    all nodes this is the exact DynBetweenness; with a sample it is the
    dynamic EstimateBetweenness/DynApproxBetweenness analog — same cache,
    same splice, only the source set differs (reference draws new path
    samples for the affected pairs; we re-run the affected sources)."""

    def __init__(self, edges_undirected: DataFrame, sources: list[int], max_hops: int = 20):
        self.eu = checkpoint(edges_undirected.select("src", "dst"))
        self.sources = [int(s) for s in sources]
        self.max_hops = max_hops
        dist, deltas = self._recompute(self.sources)
        self.dist = dist
        self.deltas = deltas

    def _recompute(self, sources: list[int]):
        """ONE σ-BFS feeds both caches: the per-level tables carry dist
        (the distance cache the gap filter reads) AND σ (the backward
        pass input) — running sigma_levels once instead of a separate
        multi_source_bfs cuts a third of the rounds per (re)compute."""
        from icebug_spark.operators.centrality2 import backward_deltas, sigma_levels

        levels, eu_sym = sigma_levels(self.eu, sources, self.max_hops)
        # levels and backward contribs are individually checkpointed —
        # the unions below are flat already, no extra materialization
        flat = levels[0]
        for lv in levels[1:]:
            flat = flat.union(lv)
        dist = flat.select("source", "id", "dist")
        deltas = backward_deltas(self.eu.sparkSession, levels, eu_sym)
        return dist, deltas

    def scores(self) -> DataFrame:
        return (
            self.deltas.where(F.col("id") != F.col("source"))
            .groupBy("id")
            .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
        )

    def insert_edge(self, u: int, v: int) -> int:
        """Apply the insertion; returns the number of recomputed sources
        (the work measure the reference exposes via its timing)."""
        aff = _affected_sources(self.dist, u, v, min_gap=1).collect()
        aff_ids = [int(r["source"]) for r in aff]
        self.eu = _with_edge(self.eu, u, v)
        if not aff_ids:
            return 0
        aff_df = self.dist.sparkSession.createDataFrame(
            [(s,) for s in aff_ids], "source BIGINT"
        )
        new_dist, new_deltas = self._recompute(aff_ids)
        self.dist = checkpoint(
            self.dist.join(F.broadcast(aff_df), "source", "left_anti")
            .unionByName(new_dist)
        )
        self.deltas = checkpoint(
            self.deltas.join(F.broadcast(aff_df), "source", "left_anti")
            .unionByName(new_deltas)
        )
        return len(aff_ids)


class DynBetweennessOneNode:
    """Incremental betweenness of a SINGLE node x (reference
    ``centrality/DynBetweennessOneNode.hpp:31``, the iBet pairwise
    update). The reference maintains APSP distance/σ matrices in memory
    and patches affected (u,v) pairs per insertion; the distributed
    analog keeps the (source, id, dist, sigma) table (one row per pair —
    the same APSP state, DataFrame-shaped) and computes

        bc(x) = Σ_{u≠v, u,v≠x} [d(u,x)+d(x,v)=d(u,v)] ·
                σ(u,x)·σ(x,v) / σ(u,v)

    as one three-way join + scalar aggregate over ordered pairs (equal to
    the Brandes accumulation over all sources). Insertions splice only
    gap-affected sources, exactly like DynBetweenness."""

    def __init__(
        self,
        edges_undirected: DataFrame,
        x: int,
        sources: list[int],
        max_hops: int = 20,
    ):
        from icebug_spark.operators.centrality2 import bfs_sigma

        self.eu = checkpoint(edges_undirected.select("src", "dst"))
        self.x = int(x)
        self.sources = [int(s) for s in sources]
        self.max_hops = max_hops
        self.tab = checkpoint(bfs_sigma(self.eu, self.sources, max_hops))

    def score(self) -> float:
        """Current bc(x) over ordered (u, v) pairs from the maintained
        source set (all nodes → exact Brandes betweenness of x)."""
        tx = self.tab.where(F.col("id") == self.x).select(
            F.col("source").alias("u"),
            F.col("dist").alias("dux"),
            F.col("sigma").alias("sux"),
        )
        tvx = self.tab.where(F.col("id") == self.x).select(
            F.col("source").alias("v"),
            F.col("dist").alias("dvx"),
            F.col("sigma").alias("svx"),
        )
        tuv = self.tab.select(
            F.col("source").alias("u"),
            F.col("id").alias("v"),
            F.col("dist").alias("duv"),
            F.col("sigma").alias("suv"),
        )
        row = (
            tuv.where((F.col("u") != F.col("v")))
            .where((F.col("u") != self.x) & (F.col("v") != self.x))
            .join(F.broadcast(tx), "u")
            .join(F.broadcast(tvx), "v")
            .where(F.col("dux") + F.col("dvx") == F.col("duv"))
            .agg(
                F.coalesce(
                    F.sum(F.col("sux") * F.col("svx") / F.col("suv")), F.lit(0.0)
                ).alias("bc")
            )
            .collect()[0]
        )
        return float(row["bc"])

    def insert_edge(self, u: int, v: int) -> int:
        """Apply insertion; returns the number of recomputed sources."""
        from icebug_spark.operators.centrality2 import bfs_sigma

        aff = _affected_sources(self.tab, u, v, min_gap=1).collect()
        aff_ids = [int(r["source"]) for r in aff]
        self.eu = _with_edge(self.eu, u, v)
        if not aff_ids:
            return 0
        aff_df = self.tab.sparkSession.createDataFrame(
            [(s,) for s in aff_ids], "source BIGINT"
        )
        new_tab = bfs_sigma(self.eu, aff_ids, self.max_hops)
        self.tab = checkpoint(
            self.tab.join(F.broadcast(aff_df), "source", "left_anti")
            .unionByName(new_tab)
        )
        return len(aff_ids)


class DynTopHarmonicCloseness:
    """Incremental top-k harmonic closeness over a maintained source set
    (all nodes for exact parity; the reference prunes with upper bounds —
    here unaffected sources ARE the pruned set: closeness changes only
    when distances change, i.e. gap > 1)."""

    def __init__(self, edges_undirected: DataFrame, sources: list[int], k: int = 10,
                 max_hops: int = 20):
        self.eu = checkpoint(edges_undirected.select("src", "dst"))
        self.sources = [int(s) for s in sources]
        self.k = k
        self.max_hops = max_hops
        self.dist = checkpoint(multi_source_bfs(self.eu, self.sources, max_hops))

    def _harmonic(self, dist: DataFrame) -> DataFrame:
        return (
            dist.where(F.col("dist") > 0)
            .groupBy(F.col("source").alias("id"))
            .agg(F.round(F.sum(1.0 / F.col("dist")), 6).alias("harmonic"))
        )

    def top_k(self) -> DataFrame:
        return self._harmonic(self.dist).orderBy(
            F.desc("harmonic"), F.asc("id")
        ).limit(self.k)

    def insert_edge(self, u: int, v: int) -> int:
        # closeness only cares about distance values: gap must EXCEED 1
        aff = _affected_sources(self.dist, u, v, min_gap=2).collect()
        aff_ids = [int(r["source"]) for r in aff]
        self.eu = _with_edge(self.eu, u, v)
        if not aff_ids:
            return 0
        aff_df = self.dist.sparkSession.createDataFrame(
            [(s,) for s in aff_ids], "source BIGINT"
        )
        new_dist = multi_source_bfs(self.eu, aff_ids, self.max_hops)
        self.dist = checkpoint(
            self.dist.join(F.broadcast(aff_df), "source", "left_anti")
            .unionByName(new_dist)
        )
        return len(aff_ids)


class DynamicBSuitorMatcher:
    """Dynamic b-matching with cascade repair
    (``matching/DynamicBSuitorMatcher.hpp:19``). The reference processes
    an edge update by displacing the affected endpoints' suitors and
    cascading the freed nodes' re-proposals; the distributed analog is
    DROP-AND-REPAIR: discard the matches incident to the touched
    endpoints, then re-run capacity-restricted suitor rounds over the
    edges whose BOTH endpoints still have spare capacity. That repair
    subgraph contains every edge that could possibly enter the matching
    (an edge with a saturated endpoint cannot), so validity AND
    maximality are restored GLOBALLY — strictly stronger than the old
    2-hop-ball rematch — while the cost scales with the spare region
    (typically the 2-4 freed nodes plus the standing unsaturated
    fringe), not with the graph. A dropped match the update does not
    actually displace is deterministically re-accepted by the first
    repair round (same weights, same tie order)."""

    def __init__(self, edges_weighted: DataFrame, b: int = 1):
        e = edges_weighted
        if "weight" not in e.columns:
            e = e.select("src", "dst", F.lit(1.0).alias("weight"))
        self.edges = checkpoint(e.select("src", "dst", "weight"))
        self.b = b
        self.matching = checkpoint(b_suitor_matching(self.edges, b=b))

    def _repair(self, touched: list[int]) -> None:
        """Drop the touched endpoints' matches, re-match the spare
        region (see class docstring)."""
        m = self.matching
        kept = checkpoint(m.where(
            ~F.col("u").isin(touched) & ~F.col("v").isin(touched)
        ))
        used = (
            kept.select(F.col("u").alias("id"))
            .union(kept.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_used"))
        )
        nodes = self.edges.select(F.col("src").alias("id")).union(
            self.edges.select(F.col("dst").alias("id"))
        ).distinct()
        caps = nodes.join(used, "id", "left").select(
            "id", (F.lit(self.b) - F.coalesce("n_used", F.lit(0))).alias("cap")
        )
        spare = caps.where(F.col("cap") > 0).select("id")
        sub = (
            self.edges.join(
                spare.withColumnRenamed("id", "src"), "src", "leftsemi"
            )
            .join(spare.withColumnRenamed("id", "dst"), "dst", "leftsemi")
        )
        new_m = b_suitor_matching(sub, b=self.b, capacities=caps)
        self.matching = checkpoint(kept.unionByName(new_m))

    def insert_edge(self, u: int, v: int, weight: float = 1.0) -> None:
        spark = self.edges.sparkSession
        add = spark.createDataFrame(
            [(int(u), int(v), float(weight))], "src BIGINT, dst BIGINT, weight DOUBLE"
        )
        self.edges = checkpoint(self.edges.unionByName(add))
        self._repair([int(u), int(v)])

    def remove_edge(self, u: int, v: int) -> None:
        gone = (
            (F.least("src", "dst") == min(u, v))
            & (F.greatest("src", "dst") == max(u, v))
        )
        self.edges = checkpoint(self.edges.where(~gone))
        self.matching = checkpoint(self.matching.where(
            ~((F.col("u") == min(u, v)) & (F.col("v") == max(u, v)))
        ))
        self._repair([int(u), int(v)])


def dyn_sssp_update(
    dist: DataFrame,
    edges_weighted_new: DataFrame,
    batch: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """DynDijkstra / DynSSSP (``distance/DynDijkstra.hpp:20``,
    ``DynSSSP.hpp:20``): maintain weighted (id, dist) from a fixed source
    under an event batch — the weighted twin of dyn_bfs_update.
    Insertions only improve: resume Bellman-Ford relaxation seeded from
    the CURRENT labels (settled nodes relax once, improvements cascade
    only through the affected cone). Removals invalidate the affected
    region first (per-event affected set, like the reference). Shares
    dyn_bfs_update's body (``dynamic2._resume``); a label counts as
    improved only by more than 1e-12, so float round-off cannot keep
    the loop running."""
    from icebug_spark.streaming.dynamic2 import _resume

    e = edges_weighted_new
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    ew = checkpoint(
        e.select("src", "dst", "weight").union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
    )
    dist = dist.select("id", F.col("dist").cast("double").alias("dist"))
    return _resume(dist, ew, batch, max_rounds, tol=1e-12)


class DynAPSP:
    """DynAPSP (``distance/DynAPSP.hpp:20``, unweighted): maintain the
    full (source, id, dist) hop-distance table over a source set (all
    nodes = exact APSP). Insert splice: the gap filter marks affected
    sources in one scan of the cached table; only those re-run BFS."""

    def __init__(self, edges_undirected: DataFrame, sources: list[int], max_hops: int = 30):
        self.eu = checkpoint(edges_undirected.select("src", "dst"))
        self.sources = [int(s) for s in sources]
        self.max_hops = max_hops
        self.dist = checkpoint(multi_source_bfs(self.eu, self.sources, max_hops))

    def distances(self) -> DataFrame:
        return self.dist

    def insert_edge(self, u: int, v: int) -> int:
        aff = _affected_sources(self.dist, u, v, min_gap=2).collect()
        aff_ids = [int(r["source"]) for r in aff]
        self.eu = _with_edge(self.eu, u, v)
        if not aff_ids:
            return 0
        aff_df = self.dist.sparkSession.createDataFrame(
            [(s,) for s in aff_ids], "source BIGINT"
        )
        new_dist = multi_source_bfs(self.eu, aff_ids, self.max_hops)
        self.dist = checkpoint(
            self.dist.join(F.broadcast(aff_df), "source", "left_anti")
            .unionByName(new_dist)
        )
        return len(aff_ids)


class DynApproxBetweenness:
    """DynApproxBetweenness (reference
    ``centrality/DynApproxBetweenness.hpp:29``): maintain the
    Riondato–Kornaropoulos ε-δ betweenness approximation under edge
    insertions. The sample of r (s,t) pairs (r from the VC bound, shared
    prologue ``centrality4._rk_sample``) is FIXED; each pair holds one
    uniformly sampled shortest path; scores are path-through fractions.
    On insertion the reference re-draws paths only for affected pairs
    (its DynSSSP change detection); here the detection is the
    conservative source-tree rule — a pair (s,t) is re-sampled iff
    |d(s,u) − d(s,v)| ≥ 1, i.e. the insertion creates a shorter OR an
    additional equal-length path somewhere in s's tree — which is a
    superset of the truly affected pairs, so every stored path remains
    a valid uniform draw over the CURRENT shortest-path DAG (for
    unaffected pairs, distances from s are unchanged and insertions
    never remove the old path).

    State: the pair table, per-pair sampled path memberships, and the
    per-distinct-source distance table (one batched multi-source BFS) —
    all distributed; updates touch only affected slices."""

    def __init__(
        self,
        edges_undirected: DataFrame,
        eps: float = 0.3,
        delta: float = 0.1,
        c: float = 0.5,
        max_samples: int = 50,
        seed: int = 7,
        vd: int | None = None,
    ):
        """``vd``: optional vertex-diameter UPPER bound. The RK sample
        bound is valid for any overestimate (a larger vd only grows r);
        passing one skips the double-sweep estimate (two full BFS)."""
        from icebug_spark.operators.centrality4 import (
            _rk_pairs,
            _rk_sample,
            _sampled_path_members,
        )
        from icebug_spark.operators.traversal import multi_source_bfs

        if vd is None:
            eu, nodes, vd, r, pairs = _rk_sample(
                edges_undirected, eps, delta, c, max_samples, seed
            )
        else:
            import math as _math

            eu = edges_undirected.select("src", "dst")
            eu = checkpoint(eu.union(
                eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct())
            nodes = eu.select(F.col("src").alias("id")).distinct()
            n = nodes.count()
            vd = max(int(vd), 2)
            r = int(
                _math.ceil(
                    (c / eps**2)
                    * (_math.floor(_math.log2(max(vd - 2, 1))) + 1 + _math.log(1 / delta))
                )
            )
            r = max(1, min(r, max_samples))
            pairs = _rk_pairs(nodes, n, r, seed)
        self.eu = eu
        self.nodes = checkpoint(nodes)
        self.vd = vd
        self.r = r
        self.seed = seed
        self.generation = 0
        self.pairs = pairs
        self.members = checkpoint(_sampled_path_members(eu, pairs, vd, seed))
        self._sources = sorted(
            int(x["s"]) for x in pairs.select("s").distinct().collect()
        )
        self.dist = checkpoint(
            multi_source_bfs(self.eu, self._sources, max_hops=vd + 2)
        )

    def scores(self) -> DataFrame:
        """→ (id, approx_bc) 6dp — visits/r like the static op."""
        counts = self.members.groupBy("id").agg(F.count(F.lit(1)).alias("cnt"))
        return self.nodes.join(counts, "id", "left").select(
            "id",
            F.round(
                F.coalesce("cnt", F.lit(0)).cast("double") / float(self.r), 6
            ).alias("approx_bc"),
        )

    def insert_edge(self, u: int, v: int) -> int:
        """Apply the insertion; returns the number of re-sampled pairs."""
        from icebug_spark.operators.centrality4 import _sampled_path_members
        from icebug_spark.operators.traversal import multi_source_bfs

        aff = _affected_sources(self.dist, u, v, min_gap=1).collect()
        aff_ids = sorted(int(r["source"]) for r in aff)
        self.eu = _with_edge(self.eu, u, v)
        self.generation += 1
        if not aff_ids:
            return 0
        spark = self.eu.sparkSession
        aff_src = spark.createDataFrame([(s,) for s in aff_ids], "s BIGINT")
        aff_pairs = self.pairs.join(F.broadcast(aff_src), "s")
        n_aff = aff_pairs.count()
        if n_aff:
            new_members = _sampled_path_members(
                self.eu, aff_pairs, self.vd, self.seed + self.generation
            )
            keep = self.members.join(
                F.broadcast(aff_pairs.select("pair")), "pair", "left_anti"
            )
            self.members = checkpoint(keep.unionByName(new_members))
        aff_df = spark.createDataFrame([(s,) for s in aff_ids], "source BIGINT")
        new_dist = multi_source_bfs(self.eu, aff_ids, max_hops=self.vd + 2)
        self.dist = checkpoint(
            self.dist.join(F.broadcast(aff_df), "source", "left_anti")
            .unionByName(new_dist)
        )
        return int(n_aff)
