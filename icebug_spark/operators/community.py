"""Community detection + partition quality/similarity measures.

Parity targets (reference community/, 4,799 LoC):
- PLP parallel label propagation   ``community/PLP.hpp:26,42``
- PLM parallel Louvain             ``community/PLM.hpp:19,38-70``
- Modularity                       ``community/Modularity.hpp:28,44``
- Coverage / EdgeCut / Conductance ``community/Coverage.hpp:19``,
  ``EdgeCut.hpp:18``, ``Conductance.hpp:22``
- NMI / ARI / Jaccard partition similarity ``community/NMIDistance.hpp:21``,
  ``AdjustedRandMeasure.hpp:12``, ``JaccardMeasure.hpp:18``
- ClusteringGenerator              ``community/ClusteringGenerator.hpp:20``
- PartitionIntersection            ``community/PartitionIntersection.hpp:12``
- ParallelPartitionCoarsening      ``coarsening/ParallelPartitionCoarsening.hpp:20``

The reference's PLP/PLM are nondeterministic under OpenMP thread order;
this engine fixes deterministic tie-breaks (count desc, label asc) so
results are reproducible — tests assert invariants (modularity quality,
partition validity) rather than exact label equality with the reference.

Partitions are DataFrames ``(id BIGINT, subset BIGINT)`` (reference
``structures/Partition.hpp:27``).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.zipindex import dense_index

from icebug_spark.plans.iterate import checkpoint, checkpoint_observe, iterate


# ---------------------------------------------------------------- PLP ----
def label_propagation(
    edges_undirected: DataFrame, max_iter: int = 10, theta: int = 0
) -> DataFrame:
    """PLP: label ← mode of neighbor labels, deterministic tie-break
    (count desc, label asc). Stops when #changes <= theta. → (id, subset).

    Each round: one join (edges ⋈ labels) + two grouped aggregations that
    share one shuffle keyed by node — the mode pick is a min-struct
    aggregate, not a window, so no per-round sort.
    """
    eu = edges_undirected.select("src", "dst")
    labels = (
        eu.select(F.col("src").alias("id"))
        .union(eu.select(F.col("dst").alias("id")))
        .distinct().withColumn("subset", F.col("id"))
    )

    changed = [None]

    def step(lbl: DataFrame, _i: int) -> DataFrame:
        neigh = (
            eu.join(lbl.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "subset")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # mode via grouped min-struct: ordering on (-cnt, subset) IS the
        # (count desc, label asc) tie-break and (id, subset) is unique
        # after the groupBy, so the selected label is identical — and the
        # hash aggregate drops the row_number window's per-round SORT
        best = (
            neigh.groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"),
                        F.col("subset").alias("subset"),
                    )
                ).alias("s")
            )
            .select("id", F.col("s.subset").alias("new_subset"))
        )
        return (
            lbl.join(best, "id", "left")
            .select(
                "id",
                F.coalesce("new_subset", "subset").alias("subset"),
                (F.coalesce("new_subset", "subset") != F.col("subset")).alias("moved"),
            )
        )

    def observed_converged(m: dict) -> bool:
        n = int(m["n_moved"] or 0)
        changed[0] = n
        return n <= theta

    final = iterate(
        labels.withColumn("moved", F.lit(False)),
        step,
        max_iter,
        checkpoint_every=1,
        # moved-count rides the checkpoint job as an observed metric
        observe=lambda: [F.sum(F.col("moved").cast("long")).alias("n_moved")],
        observed_converged=observed_converged,
    )
    return final.select("id", "subset")


# ------------------------------------------------- PLM / Louvain ---------
def louvain(
    edges_undirected: DataFrame,
    gamma: float = 1.0,
    move_rounds: int = 8,
    levels: int = 2,
) -> DataFrame:
    """Simplified parallel Louvain (PLM): synchronous local-move rounds +
    partition coarsening, repeated over ``levels``. → (id, subset).

    Local move: node v joins the neighbor community maximizing
    ΔQ = w(v→c)/m − gamma·deg(v)·vol(c∖v)/(2m²), ties → smaller community
    id. The reference applies moves in thread order
    (``community/PLM.hpp:55``); a fully bulk-synchronous apply oscillates
    on dense graphs (all of an attractive community's neighbors jump at
    once and overshoot), so each round only a deterministic hash-color
    class of vertices may move (the coloring trick from parallel Louvain
    literature, e.g. Grappolo) — other vertices observe fresh community
    volumes next round.
    Coarsening is the groupBy-aggregation the reference implements as
    ``ParallelPartitionCoarsening``; the lazy CoarsenedGraphView is free
    in Spark (plans are lazy until an action)."""
    # weight column optional: default 1.0
    e = edges_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    e = checkpoint(e.select("src", "dst", "weight"))

    # mapping: original id → current community (identity at start)
    mapping = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    ).distinct().withColumn("subset", F.col("id"))

    for _level in range(levels):
        part = _local_move(e, gamma, move_rounds)
        mapping = (
            mapping.alias("m")
            .join(part.alias("p"), F.col("m.subset") == F.col("p.id"))
            .select(F.col("m.id").alias("id"), F.col("p.subset").alias("subset"))
        )
        mapping = checkpoint(mapping)
        # coarsen: communities become super-nodes
        e = checkpoint(coarsen(e, part))

    # compact community ids densely (Partition::compact,
    # structures/Partition.hpp) — two-pass zipWithIndex, not a global
    # dense_rank window (single-partition sort of every community id)
    compact = dense_index(mapping, ["subset"])
    return mapping.join(compact, "subset").select(
        "id", F.col("dense").alias("subset")
    )


def _local_move(
    e: DataFrame, gamma: float, rounds: int, phases: int = 2
) -> DataFrame:
    """One Louvain level's local-move phase on weighted, symmetrized-on-
    the-fly edges. Returns (id, subset).

    Each round only vertices whose deterministic hash color equals
    ``round % phases`` apply their best move (block Gauss-Seidel); a
    same-round bulk apply overshoots on dense graphs and can leave
    modularity worse than singleton. Same-color vertices can still pile
    into one attractive community (each prices the move as if alone), so
    the round-end modularity is evaluated (one aggregate over the already
    checkpointed labels) and the best-scoring round's labels are
    returned — more rounds can then never degrade the result, mirroring
    the reference's monotone sequential sweep (community/PLM.hpp:55)."""
    eu = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"))
    eu = checkpoint(eu)
    total_w = eu.agg(F.sum("weight")).collect()[0][0] or 1.0  # = 2m
    m2 = total_w  # 2m
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("deg"))
    labels = checkpoint(deg.select("id", F.col("id").alias("subset")))

    def _q(lbl: DataFrame) -> float:
        """Modularity of ``lbl`` over eu: Σ w_in/2m − γ·Σ vol²/(2m)²,
        folded into ONE job (internal-weight and volume aggregates
        combined via a union'd keyed aggregate)."""
        l_s = lbl.select(F.col("id").alias("src"), F.col("subset").alias("cs"))
        l_d = lbl.select(F.col("id").alias("dst"), F.col("subset").alias("cd"))
        internal = (
            eu.join(l_s, "src").join(l_d, "dst")
            .where(F.col("cs") == F.col("cd"))
            .agg(F.sum("weight").alias("w_in"))
        )
        volsq = (
            lbl.join(deg, "id")
            .groupBy("subset").agg(F.sum("deg").alias("vol"))
            .agg(F.sum(F.col("vol") * F.col("vol")).alias("sq"))
        )
        row = internal.crossJoin(volsq).collect()[0]
        return (row["w_in"] or 0.0) / m2 - gamma * (row["sq"] or 0.0) / (m2 * m2)

    # Round r's modularity is evaluated INSIDE round r+1's move plan
    # (fused, guide §2.4): w(v→own community) and Σ vol² under labels_r
    # are already computed there (the ``stay`` branch and the ``vol``
    # aggregate), so they ride the labels_{r+1} checkpoint as observed
    # metrics — ONE job per round where the old shape paid two (labels
    # checkpoint + a separate modularity-collect job). Only the LAST
    # round's labels still need a standalone _q() evaluation. The
    # observed internal weight sums the same arc multiset as _q's
    # eu⋈labels⋈labels aggregate (per-node partials instead of per-arc
    # rows) and Σ vol² is the identical aggregate attached as a broadcast
    # scalar — best-round selection compares Q values whose spacing is
    # astronomically larger than the last-ulp float reassociation.
    best_labels, best_q = labels, None

    for _round in range(rounds):
        lbl_deg = labels.join(deg, "id")
        vol = lbl_deg.groupBy("subset").agg(F.sum("deg").alias("vol"))
        # W(v, c): weight from v into community c
        wvc = (
            eu.join(labels.withColumnRenamed("id", "dst").withColumnRenamed("subset", "csub"), "dst")
            .groupBy(F.col("src").alias("id"), "csub")
            .agg(F.sum("weight").alias("w_to_c"))
        )
        cand = (
            wvc.join(lbl_deg.select("id", "subset", "deg"), "id")
            .join(vol.withColumnRenamed("subset", "csub").withColumnRenamed("vol", "vol_c"), "csub")
        )
        # vol of candidate community excluding v (if v already in it)
        volx = F.when(
            F.col("csub") == F.col("subset"), F.col("vol_c") - F.col("deg")
        ).otherwise(F.col("vol_c"))
        gain = F.col("w_to_c") / m2 - F.lit(gamma) * F.col("deg") * volx / (m2 * m2)
        # argmax via grouped min-struct instead of a row_number window:
        # struct ordering on (-gain, csub) IS the (highest gain, lowest
        # csub) tie-break — (id, csub) is unique after wvc's groupBy, so
        # the selected row is identical — and the hash aggregate drops
        # the window's per-round partition SORT of the candidate table
        # (gain is never -0.0: it is a difference of equal doubles only
        # when exactly 0.0, so the negation cannot split a tie class).
        best = (
            cand.withColumn("gain", gain)
            .groupBy("id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("gain")).alias("ng"),
                        F.col("csub").alias("csub"),
                        F.col("gain").alias("g"),
                        F.col("subset").alias("sub"),
                    )
                ).alias("s")
            )
            .select(
                "id",
                F.col("s.csub").alias("best"),
                F.col("s.g").alias("gain"),
                F.col("s.sub").alias("subset"),
            )
        )
        # move only on strictly positive improvement over staying
        stay = (
            cand.where(F.col("csub") == F.col("subset"))
            .select("id", F.col("w_to_c").alias("w_stay"), F.col("vol_c").alias("vol_stay"), F.col("deg").alias("d2"))
        )
        in_color = (
            F.pmod(F.xxhash64(F.col("id")), F.lit(phases)) == _round % phases
        )
        # Σ vol² under the CURRENT labels as a 1-row broadcast scalar
        # (ReuseExchange shares vol's aggregation with the cand join), and
        # each node's w(v→own community) carried through the move row —
        # together they are Q(labels_round) observed during the NEXT
        # state's checkpoint.
        vsq = vol.agg(F.sum(F.col("vol") * F.col("vol")).alias("vsq"))
        moved = (
            best.join(stay, "id", "left")
            .crossJoin(F.broadcast(vsq))
            .select(
                "id",
                F.when(
                    in_color
                    & (
                        F.col("gain")
                        > F.coalesce(
                            F.col("w_stay") / m2
                            - F.lit(gamma) * F.col("d2") * (F.col("vol_stay") - F.col("d2")) / (m2 * m2),
                            F.lit(-1e18),
                        )
                    ),
                    F.col("best"),
                ).otherwise(F.col("subset")).alias("subset"),
                F.coalesce(F.col("w_stay"), F.lit(0.0)).alias("w_stay_c"),
                "vsq",
            )
        )
        prev_labels = labels
        cp, met = checkpoint_observe(
            moved,
            F.sum("w_stay_c").alias("int_w"),
            F.max("vsq").alias("vsq"),
        )
        q_prev = (met["int_w"] or 0.0) / m2 - gamma * (met["vsq"] or 0.0) / (
            m2 * m2
        )
        if best_q is None or q_prev > best_q:
            best_labels, best_q = prev_labels, q_prev
        labels = cp.select("id", "subset")
    # the final round's labels never flow through a next move plan — one
    # standalone evaluation decides whether they beat the best-so-far
    q_last = _q(labels)
    if best_q is None or q_last > best_q:
        best_labels, best_q = labels, q_last
    return best_labels


def coarsen(e_weighted: DataFrame, partition: DataFrame) -> DataFrame:
    """ParallelPartitionCoarsening: contract a partition into super-nodes,
    summing parallel edge weights (reference
    ``coarsening/ParallelPartitionCoarsening.hpp:20``)."""
    p_src = partition.select(F.col("id").alias("src"), F.col("subset").alias("csrc"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("subset").alias("cdst"))
    return (
        e_weighted.join(p_src, "src")
        .join(p_dst, "dst")
        .groupBy(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )


# ---------------------------------------------- quality measures ---------
def modularity(
    edges_undirected: DataFrame, partition: DataFrame, gamma: float = 1.0
) -> DataFrame:
    """Newman modularity of a partition — single row (modularity DOUBLE,
    rounded 6dp). Uses the symmetrized arc list (each undirected edge
    twice): Q = Σ_c [ w_in(c)/W − gamma·(vol(c)/W)² ] with W = total arc
    weight = 2m (reference ``community/Modularity.hpp:44``)."""
    eu = edges_undirected.select("src", "dst")
    p_src = partition.select(F.col("id").alias("src"), F.col("subset").alias("csrc"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("subset").alias("cdst"))
    j = eu.join(p_src, "src").join(p_dst, "dst")
    tot = j.agg(
        F.count(F.lit(1)).alias("w_all"),
        F.sum(F.when(F.col("csrc") == F.col("cdst"), 1).otherwise(0)).alias("w_in"),
    )
    vol = (
        j.groupBy("csrc")
        .agg(F.count(F.lit(1)).alias("vol"))
        .agg(F.sum(F.col("vol") * F.col("vol")).alias("sum_vol_sq"))
    )
    return tot.crossJoin(vol).select(
        F.round(
            F.col("w_in").cast("double") / F.col("w_all")
            - F.lit(gamma)
            * F.col("sum_vol_sq").cast("double")
            / (F.col("w_all").cast("double") * F.col("w_all").cast("double")),
            6,
        ).alias("modularity")
    )


def coverage(edges_undirected: DataFrame, partition: DataFrame) -> DataFrame:
    """Fraction of intra-community arcs (reference Coverage.hpp:19)."""
    eu = edges_undirected.select("src", "dst")
    p_src = partition.select(F.col("id").alias("src"), F.col("subset").alias("csrc"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("subset").alias("cdst"))
    return (
        eu.join(p_src, "src")
        .join(p_dst, "dst")
        .agg(
            F.round(
                F.sum(F.when(F.col("csrc") == F.col("cdst"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("coverage")
        )
    )


def conductance_per_subset(
    edges_undirected: DataFrame, partition: DataFrame
) -> DataFrame:
    """Per-subset conductance φ(S) = cut(S) / min(vol(S), vol(V∖S))
    (reference ``community/Conductance.hpp:22``, ``scd/SetConductance.hpp``).
    → (subset, conductance) rounded 6dp."""
    eu = edges_undirected.select("src", "dst")
    p_src = partition.select(F.col("id").alias("src"), F.col("subset").alias("csrc"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("subset").alias("cdst"))
    j = eu.join(p_src, "src").join(p_dst, "dst")
    total = j.count()
    per = j.groupBy(F.col("csrc").alias("subset")).agg(
        F.count(F.lit(1)).alias("vol"),
        F.sum(F.when(F.col("csrc") != F.col("cdst"), 1).otherwise(0)).alias("cut"),
    )
    return per.select(
        "subset",
        F.round(
            F.col("cut").cast("double")
            / F.least(F.col("vol"), F.lit(total) - F.col("vol")).cast("double"),
            6,
        ).alias("conductance"),
    )


def edge_cut(edges_undirected: DataFrame, partition: DataFrame) -> DataFrame:
    """Total inter-community edge count (EdgeCut.hpp:18); arcs/2."""
    eu = edges_undirected.select("src", "dst")
    p_src = partition.select(F.col("id").alias("src"), F.col("subset").alias("csrc"))
    p_dst = partition.select(F.col("id").alias("dst"), F.col("subset").alias("cdst"))
    return (
        eu.join(p_src, "src")
        .join(p_dst, "dst")
        .agg(
            (
                F.sum(F.when(F.col("csrc") != F.col("cdst"), 1).otherwise(0)) / 2
            ).cast("long").alias("edge_cut")
        )
    )


# ------------------------------------- partition similarity --------------
def contingency(pa: DataFrame, pb: DataFrame) -> DataFrame:
    """Contingency table of two partitions joined on id →
    (subset_a, subset_b, n)."""
    return (
        pa.select("id", F.col("subset").alias("subset_a"))
        .join(pb.select("id", F.col("subset").alias("subset_b")), "id")
        .groupBy("subset_a", "subset_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def nmi(pa: DataFrame, pb: DataFrame) -> DataFrame:
    """Normalized mutual information of two partitions — single row
    (nmi DOUBLE, 6dp). Reference ``community/NMIDistance.hpp:21`` reports
    the distance 1−NMI; we report NMI itself."""
    ct = checkpoint(contingency(pa, pb))
    n = ct.agg(F.sum("n")).collect()[0][0]
    a = ct.groupBy("subset_a").agg(F.sum("n").alias("na"))
    b = ct.groupBy("subset_b").agg(F.sum("n").alias("nb"))
    mi = (
        ct.join(a, "subset_a")
        .join(b, "subset_b")
        .agg(
            F.sum(
                (F.col("n") / n)
                * F.log(F.lit(float(n)) * F.col("n") / (F.col("na") * F.col("nb")))
            ).alias("mi")
        )
    )
    ha = a.agg((-F.sum((F.col("na") / n) * F.log(F.col("na") / F.lit(float(n))))).alias("ha"))
    hb = b.agg((-F.sum((F.col("nb") / n) * F.log(F.col("nb") / F.lit(float(n))))).alias("hb"))
    return (
        mi.crossJoin(ha)
        .crossJoin(hb)
        .select(
            F.round(
                F.when(
                    (F.col("ha") + F.col("hb")) > 0,
                    2.0 * F.col("mi") / (F.col("ha") + F.col("hb")),
                ).otherwise(1.0),
                6,
            ).alias("nmi")
        )
    )


def pair_count_sums(pa: DataFrame, pb: DataFrame) -> tuple[int, int, int, int]:
    """(n, s11, s_a, s_b) pair-count scalars of the contingency table, in
    ONE Spark job: the cells, the per-subset_a sums and the per-subset_b
    sums are three tagged groupings of the same table, so a tagged union
    → one groupBy → one final agg replaces the old checkpoint + four
    sequential collect jobs (5 jobs → 1). The addends m(m−1)/2 are
    integers (exact in doubles), so grouping order cannot change values.
    Shared by adjusted_rand / rand_index / JaccardMeasure."""
    ct = contingency(pa, pb)
    u = (
        ct.select(F.lit("c").alias("tag"), F.col("subset_a").alias("k1"),
                  F.col("subset_b").alias("k2"), "n")
        .union(ct.select(F.lit("a"), F.col("subset_a"),
                         F.lit(None).cast(ct.schema["subset_b"].dataType), "n"))
        .union(ct.select(F.lit("b"), F.col("subset_b"),
                         F.lit(None).cast(ct.schema["subset_a"].dataType), "n"))
    )
    pairs = (F.col("m") * (F.col("m") - 1) / 2)
    row = (
        u.groupBy("tag", "k1", "k2").agg(F.sum("n").alias("m"))
        .agg(
            F.sum(F.when(F.col("tag") == "c", F.col("m"))).alias("n_tot"),
            F.sum(F.when(F.col("tag") == "c", pairs)).cast("long").alias("s11"),
            F.sum(F.when(F.col("tag") == "a", pairs)).cast("long").alias("s_a"),
            F.sum(F.when(F.col("tag") == "b", pairs)).cast("long").alias("s_b"),
        )
        .collect()[0]
    )
    return (row["n_tot"] or 0, row["s11"] or 0, row["s_a"] or 0, row["s_b"] or 0)


def adjusted_rand(pa: DataFrame, pb: DataFrame) -> DataFrame:
    """Adjusted Rand index (reference AdjustedRandMeasure.hpp:12 reports
    the distance 1−ARI). Single row (ari DOUBLE, 6dp); exact integer
    pair-count sums feed one final double expression."""
    n, sum_ij, sum_a, sum_b = pair_count_sums(pa, pb)
    total_pairs = n * (n - 1) // 2
    expected = sum_a * sum_b / total_pairs if total_pairs else 0.0
    max_index = (sum_a + sum_b) / 2.0
    denom = max_index - expected
    ari = (sum_ij - expected) / denom if denom != 0 else 1.0
    spark = pa.sparkSession
    return spark.createDataFrame([(round(ari, 6),)], ["ari"])


def rand_index(pa: DataFrame, pb: DataFrame) -> DataFrame:
    """Plain Rand index (NodeStructuralRandMeasure.hpp:20). 6dp."""
    n, s_ij, s_a, s_b = pair_count_sums(pa, pb)
    total = n * (n - 1) // 2
    agree = total + 2 * s_ij - s_a - s_b
    spark = pa.sparkSession
    return spark.createDataFrame([(round(agree / total, 6),)], ["rand"])


# ---------------------------------------------- generators/util ----------
def singleton_clustering(nodes: DataFrame) -> DataFrame:
    """ClusteringGenerator::makeSingletonClustering."""
    return nodes.select("id", F.col("id").alias("subset"))


def one_clustering(nodes: DataFrame) -> DataFrame:
    """ClusteringGenerator::makeOneClustering."""
    return nodes.select("id", F.lit(0).cast("long").alias("subset"))


def hash_clustering(nodes: DataFrame, k: int) -> DataFrame:
    """Deterministic k-way clustering (id mod k) — the engine's stand-in
    for makeRandomClustering with a seeded, order-independent rule."""
    return nodes.select("id", (F.col("id") % k).alias("subset"))


def partition_intersection(pa: DataFrame, pb: DataFrame) -> DataFrame:
    """PartitionIntersection.hpp:12 — dense_rank over (subset_a, subset_b)."""
    j = (
        pa.select("id", F.col("subset").alias("sa"))
        .join(pb.select("id", F.col("subset").alias("sb")), "id")
    )
    d = dense_index(j, ["sa", "sb"], out="subset")
    return j.join(d, ["sa", "sb"]).select("id", "subset")
