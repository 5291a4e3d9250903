"""Community detection part 2: Leiden refinement, map-equation Louvain,
LFM overlapping expansion, structural Rand measures, cover measures.

Parity targets (reference community/):
- ParallelLeiden             ``community/ParallelLeiden.hpp:26,41`` (642 LoC)
- LouvainMapEquation         ``community/LouvainMapEquation.hpp:19`` (722 LoC)
- LFM overlapping            ``community/LFM.hpp:30``
- GraphStructuralRandMeasure ``community/GraphStructuralRandMeasure.hpp:20``
- CoverHubDominance          ``community/CoverHubDominance.hpp:21``
- GraphClusteringTools       ``community/GraphClusteringTools.hpp``

Design: both Leiden and map-equation Louvain reuse the bulk-synchronous
local-move skeleton of ``community.louvain`` (one join + grouped
aggregations per round riding a single shuffle keyed by node; best-move
picks are min-struct aggregates, not window sorts). The reference's
thread-ordered sequential moves are replaced by simultaneous moves with
deterministic tie-breaks; tests assert quality invariants (modularity /
description length improves) rather than exact label equality.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.zipindex import dense_index

from icebug_spark.operators.community import _local_move, coarsen, louvain
from icebug_spark.plans.iterate import checkpoint


# ------------------------------------------------------------ Leiden -----
def leiden(
    edges_undirected: DataFrame,
    gamma: float = 1.0,
    move_rounds: int = 8,
    levels: int = 2,
    refine_rounds: int = 4,
) -> DataFrame:
    """Leiden = Louvain local move + a REFINEMENT phase before coarsening
    (reference ``community/ParallelLeiden.hpp:26``): within each community,
    nodes re-cluster considering only intra-community edges, which
    guarantees each coarse node is internally connected (Louvain's
    disconnected-community defect). Coarsening contracts the REFINED
    partition while the aggregate level starts from the UNREFINED one.
    → (id, subset)."""
    e = edges_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    e = checkpoint(e.select("src", "dst", "weight"))

    mapping = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    ).distinct().withColumn("subset", F.col("id"))

    for _level in range(levels):
        part = _local_move(e, gamma, move_rounds)
        refined = _refine(e, part, gamma, refine_rounds)
        # aggregate-level start labels: refined super-node → its community
        mapping = checkpoint(
            mapping.alias("m")
            .join(refined.alias("r"), F.col("m.subset") == F.col("r.id"))
            .select(F.col("m.id").alias("id"), F.col("r.subset").alias("subset"))
        )
        e = checkpoint(coarsen(e, refined))

    # two-pass zipWithIndex dense relabel — no single-partition window
    compact = dense_index(mapping, ["subset"])
    return mapping.join(compact, "subset").select("id", F.col("dense").alias("subset"))


def _refine(
    e: DataFrame, part: DataFrame, gamma: float, rounds: int
) -> DataFrame:
    """Leiden refinement: singleton start, label-prop-style merges allowed
    only along edges whose endpoints share a community in ``part``.
    Deterministic tie-break (weight desc, label asc). Returns (id, subset)
    with subsets that never cross ``part`` boundaries."""
    p_src = part.select(F.col("id").alias("src"), F.col("subset").alias("comm_s"))
    p_dst = part.select(F.col("id").alias("dst"), F.col("subset").alias("comm_d"))
    intra = (
        e.join(p_src, "src")
        .join(p_dst, "dst")
        .where(F.col("comm_s") == F.col("comm_d"))
        .select("src", "dst", "weight")
    )
    intra = checkpoint(intra.union(
        intra.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    ))

    labels = part.select("id").withColumn("subset", F.col("id"))
    for _ in range(rounds):
        neigh = (
            intra.join(
                labels.withColumnRenamed("id", "dst").withColumnRenamed("subset", "lbl"),
                "dst",
            )
            .groupBy(F.col("src").alias("id"), "lbl")
            .agg(F.sum("weight").alias("w"))
        )
        # argmax via grouped min-struct ((-w, lbl) ordering IS the
        # (weight desc, label asc) tie-break; (id, lbl) unique after the
        # groupBy) — drops the row_number window's per-round SORT
        best = (
            neigh.groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("w")).alias("nw"), F.col("lbl").alias("lbl")
                    )
                ).alias("sel")
            )
            .select("id", F.col("sel.lbl").alias("new_subset"))
        )
        labels = checkpoint(
            labels.join(best, "id", "left")
            .select("id", F.coalesce("new_subset", "subset").alias("subset"))
        )
    return labels


# ---------------------------------------------- map equation -------------
def map_equation(edges_undirected: DataFrame, partition: DataFrame) -> DataFrame:
    """Two-level map equation L(M) of a partition, in bits (reference
    objective of ``community/LouvainMapEquation.hpp:19``; Rosvall &
    Bergstrom 2008). Node visit rates p_v = deg_v/W over the symmetrized
    arc list (W = 2m); exit rates q_c = cut_c/W.

    L = plogp(q) − 2·Σ_c plogp(q_c) + Σ_c plogp(p_c) − Σ_v plogp(p_v)
    with plogp(x) = x·log2(x), p_c = q_c + vol_c/W. Single row
    (map_equation DOUBLE, 6dp) — pure aggregation, DuckDB-oracle-able."""
    eu = edges_undirected.select("src", "dst")
    eu = eu.union(eu.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    p_src = partition.select(F.col("id").alias("src"), F.col("subset").alias("cs"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("subset").alias("cd"))
    j = eu.join(p_src, "src").join(p_dst, "dst")

    plogp = lambda c: F.when(c > 0, c * F.log2(c)).otherwise(F.lit(0.0))  # noqa: E731

    tot = j.count()  # W = 2m arcs
    per_c = j.groupBy("cs").agg(
        F.count(F.lit(1)).alias("vol"),
        F.sum(F.when(F.col("cs") != F.col("cd"), 1).otherwise(0)).alias("cut"),
    )
    per_v = j.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    c_terms = per_c.select(
        (F.col("cut") / tot).alias("qc"),
        ((F.col("cut") + F.col("vol")) / tot).alias("pc"),
    ).agg(
        F.sum("qc").alias("q"),
        F.sum(plogp(F.col("qc"))).alias("sum_plogp_qc"),
        F.sum(plogp(F.col("pc"))).alias("sum_plogp_pc"),
    )
    v_term = per_v.agg(
        F.sum(plogp(F.col("deg") / tot)).alias("sum_plogp_pv")
    )
    return c_terms.crossJoin(v_term).select(
        F.round(
            plogp(F.col("q"))
            - 2.0 * F.col("sum_plogp_qc")
            + F.col("sum_plogp_pc")
            - F.col("sum_plogp_pv"),
            6,
        ).alias("map_equation")
    )


def louvain_map_equation(
    edges_undirected: DataFrame,
    move_rounds: int = 8,
    levels: int = 2,
) -> DataFrame:
    """Louvain skeleton with the map-equation gain (reference
    ``community/LouvainMapEquation.hpp:19``): each round every node
    evaluates ΔL for moving to each neighbor community in closed form from
    (deg_v, w(v→c), vol_c, cut_c) and takes the largest decrease.
    Simultaneous moves, deterministic tie-breaks. → (id, subset)."""
    e = edges_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    e = checkpoint(e.select("src", "dst", "weight"))

    mapping = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    ).distinct().withColumn("subset", F.col("id"))
    for _level in range(levels):
        part = _local_move_mapeq(e, move_rounds)
        mapping = checkpoint(
            mapping.alias("m")
            .join(part.alias("p"), F.col("m.subset") == F.col("p.id"))
            .select(F.col("m.id").alias("id"), F.col("p.subset").alias("subset"))
        )
        e = checkpoint(coarsen(e, part))

    # two-pass zipWithIndex dense relabel — no single-partition window
    compact = dense_index(mapping, ["subset"])
    return mapping.join(compact, "subset").select("id", F.col("dense").alias("subset"))


def _local_move_mapeq(e: DataFrame, rounds: int) -> DataFrame:
    """Synchronous local-move rounds minimizing the map equation.

    Move v (deg d, arc weight w_A into its community A∖v, w_B into
    candidate B) changes only the terms of A and B:
      cut_A' = cut_A − d + 2·w_A        cut_B' = cut_B + d − 2·w_B
      vol_A' = vol_A − d                vol_B' = vol_B + d
    ΔL is evaluated exactly from those (all divided by W)."""
    eu = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"))
    eu = checkpoint(eu)
    W = eu.agg(F.sum("weight")).collect()[0][0] or 1.0
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("deg"))
    labels = checkpoint(deg.select("id", F.col("id").alias("subset")))

    plogp = lambda c: F.when(c > 0, c * F.log2(c)).otherwise(F.lit(0.0))  # noqa: E731

    for _ in range(rounds):
        lbl = labels
        # community aggregates (arc units)
        j = (
            eu.join(lbl.withColumnRenamed("id", "src").withColumnRenamed("subset", "cs"), "src")
            .join(lbl.withColumnRenamed("id", "dst").withColumnRenamed("subset", "cd"), "dst")
        )
        per_c = j.groupBy("cs").agg(
            F.sum("weight").alias("vol"),
            F.sum(F.when(F.col("cs") != F.col("cd"), F.col("weight")).otherwise(0.0)).alias("cut"),
        ).withColumnRenamed("cs", "comm")
        q_tot = per_c.agg(F.sum("cut")).collect()[0][0] or 0.0

        # w(v → community)
        wvc = (
            eu.join(lbl.withColumnRenamed("id", "dst").withColumnRenamed("subset", "csub"), "dst")
            .groupBy(F.col("src").alias("id"), "csub")
            .agg(F.sum("weight").alias("w_to_c"))
        )
        own = lbl.join(deg, "id")
        cand = (
            wvc.join(own, "id")
            .join(per_c.withColumnRenamed("comm", "subset").withColumnRenamed("vol", "vol_a").withColumnRenamed("cut", "cut_a"), "subset")
            .join(per_c.withColumnRenamed("comm", "csub").withColumnRenamed("vol", "vol_b").withColumnRenamed("cut", "cut_b"), "csub")
            .where(F.col("csub") != F.col("subset"))
        )
        # w into own community excluding self-community arcs of v
        w_own = (
            wvc.join(lbl, (wvc["id"] == lbl["id"]) & (wvc["csub"] == lbl["subset"]))
            .select(wvc["id"].alias("id"), F.col("w_to_c").alias("w_a"))
        )
        cand = cand.join(w_own, "id", "left").na.fill({"w_a": 0.0})

        d = F.col("deg")
        cutA, cutB = F.col("cut_a"), F.col("cut_b")
        volA, volB = F.col("vol_a"), F.col("vol_b")
        wA, wB = F.col("w_a"), F.col("w_to_c")
        cutA2 = cutA - d + 2 * wA
        cutB2 = cutB + d - 2 * wB
        q2 = F.lit(q_tot) - cutA + cutA2 - cutB + cutB2

        def L_terms(cut_c, vol_c):
            return -2 * plogp(cut_c / W) + plogp((cut_c + vol_c) / W)

        delta = (
            plogp(q2 / W) - plogp(F.lit(q_tot) / W)
            + L_terms(cutA2, volA - d) - L_terms(cutA, volA)
            + L_terms(cutB2, volB + d) - L_terms(cutB, volB)
        )
        # argmin via grouped min-struct ((delta, csub) ordering, (id,
        # csub) unique per candidate table) — no per-round window sort
        best = (
            cand.withColumn("delta", delta)
            .groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        F.col("delta").alias("delta"),
                        F.col("csub").alias("csub"),
                    )
                ).alias("sel")
            )
            .where(F.col("sel.delta") < -1e-12)
            .select("id", F.col("sel.csub").alias("new_subset"))
        )
        labels = checkpoint(
            labels.join(best, "id", "left")
            .select("id", F.coalesce("new_subset", "subset").alias("subset"))
        )
    return labels


# ------------------------------------------------ LFM overlapping --------
def lfm_cover(
    edges_undirected: DataFrame,
    seeds: list[int],
    alpha: float = 1.0,
    max_size: int = 200,
) -> DataFrame:
    """LFM local expansion (reference ``community/LFM.hpp:30``): grow a
    community around each seed maximizing fitness
    f(C) = k_in(C) / (k_in(C)+k_out(C))^alpha; greedy add of the
    best-fitness-increasing boundary node until none improves. Overlapping
    seeds → a Cover: (id, subset) with duplicate ids allowed.

    Scale note: expansions are LOCAL (community ≤ max_size); each greedy
    step is one aggregation over the current boundary (frontier-restricted
    join), the standard SCD shape (SURVEY §2.10). Seeds run sequentially
    on the driver; at scale you'd batch seeds into one keyed aggregation."""
    spark = edges_undirected.sparkSession
    eu = edges_undirected.select("src", "dst")
    eu = checkpoint(
        eu.union(eu.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    deg_df = (
        checkpoint(eu.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    )

    rows = []
    for si, seed in enumerate(seeds):
        comm = {int(seed)}
        for _ in range(max_size):
            cdf = spark.createDataFrame([(c,) for c in comm], ["cid"])
            # boundary candidates + members with links-into-community counts
            links = (
                eu.join(F.broadcast(cdf.withColumnRenamed("cid", "dst")), "dst")
                .groupBy("src")
                .agg(F.count(F.lit(1)).alias("k_to_c"))
            )
            stats = links.join(deg_df, "src").collect()
            k_in = sum(r["k_to_c"] for r in stats if r["src"] in comm)
            k_tot = sum(r["deg"] for r in stats if r["src"] in comm)
            k_out = k_tot - k_in
            f_cur = k_in / max(k_in + k_out, 1) ** alpha
            best, best_f = None, f_cur
            cands = sorted(
                (r for r in stats if r["src"] not in comm),
                key=lambda r: (-r["k_to_c"], r["src"]),
            )[:16]  # top candidates by connectivity, deterministic
            for r in cands:
                ki2 = k_in + 2 * r["k_to_c"]
                kt2 = k_tot + r["deg"]
                f2 = ki2 / max(kt2, 1) ** alpha
                if f2 > best_f + 1e-12:
                    best, best_f = int(r["src"]), f2
            if best is None:
                break
            comm.add(best)
        rows.extend((v, si) for v in sorted(comm))
    return spark.createDataFrame(rows, ["id", "subset"])


# --------------------------------------- structural Rand / cover ---------
def graph_structural_rand(
    edges_undirected: DataFrame, pa: DataFrame, pb: DataFrame
) -> DataFrame:
    """GraphStructuralRandMeasure.hpp:20 — agreement fraction over EDGES
    (not all node pairs): an edge agrees when both partitions make the same
    together/apart decision. Single row (rand DOUBLE, 6dp)."""
    eu = edges_undirected.select("src", "dst")
    a_s = pa.select(F.col("id").alias("src"), F.col("subset").alias("as_"))
    a_d = pa.select(F.col("id").alias("dst"), F.col("subset").alias("ad"))
    b_s = pb.select(F.col("id").alias("src"), F.col("subset").alias("bs"))
    b_d = pb.select(F.col("id").alias("dst"), F.col("subset").alias("bd"))
    j = eu.join(a_s, "src").join(a_d, "dst").join(b_s, "src").join(b_d, "dst")
    agree = (F.col("as_") == F.col("ad")) == (F.col("bs") == F.col("bd"))
    return j.agg(
        F.round(
            F.sum(F.when(agree, 1).otherwise(0)).cast("double") / F.count(F.lit(1)), 6
        ).alias("rand")
    )


def cover_hub_dominance(
    edges_undirected: DataFrame, cover: DataFrame
) -> DataFrame:
    """CoverHubDominance.hpp:21 — per subset: max internal degree of a
    member / (n_c − 1), internal degree counted within the subset.
    → (subset, hub_dominance) 6dp."""
    eu = edges_undirected.select("src", "dst")
    # distinct: correct whether the input is one-orientation-per-edge or
    # already symmetrized (no double-counted arcs either way)
    eu = eu.union(
        eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    c_s = cover.select(F.col("id").alias("src"), "subset")
    c_d = cover.select(F.col("id").alias("dst2"), F.col("subset").alias("sd"))
    internal = (
        eu.join(c_s, "src")
        .join(c_d, (F.col("dst") == F.col("dst2")) & (F.col("subset") == F.col("sd")))
        .groupBy("subset", "src")
        .agg(F.count(F.lit(1)).alias("ideg"))
    )
    sizes = cover.groupBy("subset").agg(F.countDistinct("id").alias("nc"))
    return (
        internal.groupBy("subset")
        .agg(F.max("ideg").alias("max_ideg"))
        .join(sizes, "subset")
        .select(
            "subset",
            F.round(
                F.when(F.col("nc") > 1, F.col("max_ideg") / (F.col("nc") - 1)).otherwise(
                    F.lit(1.0)
                ),
                6,
            ).alias("hub_dominance"),
        )
    )


def communication_graph(
    edges_undirected: DataFrame, partition: DataFrame
) -> DataFrame:
    """GraphClusteringTools::communicationGraph — inter-community edge
    weights between subsets (self-loops dropped): (src, dst, weight)."""
    e = edges_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    cg = coarsen(e, partition)
    return cg.where(F.col("src") != F.col("dst"))


def weighted_degree_with_cluster(
    edges_undirected: DataFrame, partition: DataFrame
) -> DataFrame:
    """GraphClusteringTools::weightedDegreeWithCluster — per node, weight
    into its own cluster: (id, w_in, w_total)."""
    e = edges_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    eu = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"))
    p_s = partition.select(F.col("id").alias("src"), F.col("subset").alias("cs"))
    p_d = partition.select(F.col("id").alias("dst"), F.col("subset").alias("cd"))
    return (
        eu.join(p_s, "src")
        .join(p_d, "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.sum(F.when(F.col("cs") == F.col("cd"), F.col("weight")).otherwise(0.0)).alias("w_in"),
            F.sum("weight").alias("w_total"),
        )
    )
