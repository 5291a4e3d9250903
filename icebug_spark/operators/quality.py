"""Partition/cover quality measures part 2 + community-aware node scores.

Parity targets (reference ``community/`` + ``centrality/``):
- HubDominance.hpp:22 — per cluster, max internal degree / (|C|-1);
  aggregate = avg over clusters;
- PartitionHubDominance.hpp:20 — same per-cluster frame;
- IntrapartitionDensity.hpp:13 — per cluster, internal edges /
  (|C| choose 2); global = weighted avg;
- IsolatedInterpartitionConductance.hpp:23 / ...Expansion.hpp:23 —
  per cluster, cut(C)/min(vol C, vol rest) and cut(C)/min(|C|, n-|C|);
- PartitionFragmentation.hpp:13 — 1 - (largest CC inside cluster)/|C|
  (computed against a components labeling of the induced subgraph);
- StablePartitionNodes.hpp:14 — fraction of nodes with more intra- than
  inter-cluster neighbors;
- CoverF1Similarity.hpp:26 — best-F1 match of each cover subset against
  a reference cover;
- centrality/PermanenceCentrality.hpp:13 — per node:
  I(v)/(E(v)_max * deg(v)) - (1 - cc_int(v)) with I internal degree,
  E_max max degree into one external cluster, cc_int internal clustering;
- centrality/LocalPartitionCoverage.hpp:13 — fraction of same-cluster
  neighbors per node.

All are joins + groupBy over edges ⋈ partition — one shuffle each.
Inputs: eu = symmetrized (src, dst); partition = (id, subset).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.components import connected_components
from icebug_spark.plans.iterate import checkpoint


def _labeled(eu: DataFrame, partition: DataFrame) -> DataFrame:
    """(src, dst, cs, cd): arcs with both endpoint subsets."""
    return (
        eu.join(partition.select(F.col("id").alias("src"), F.col("subset").alias("cs")), "src")
        .join(partition.select(F.col("id").alias("dst"), F.col("subset").alias("cd")), "dst")
    )


def hub_dominance(eu: DataFrame, partition: DataFrame) -> DataFrame:
    """(subset, hub_dominance): max internal degree / (|C|-1), 6dp;
    singleton clusters report 0 (reference convention)."""
    lab = _labeled(eu, partition)
    internal_deg = (
        lab.where(F.col("cs") == F.col("cd"))
        .groupBy(F.col("cs").alias("subset"), F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("ideg"))
    )
    sizes = partition.groupBy("subset").agg(F.count(F.lit(1)).alias("sz"))
    mx = internal_deg.groupBy("subset").agg(F.max("ideg").alias("max_ideg"))
    return (
        sizes.join(mx, "subset", "left")
        .select(
            "subset",
            F.round(
                F.when(
                    F.col("sz") > 1,
                    F.coalesce("max_ideg", F.lit(0)).cast("double") / (F.col("sz") - 1),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("hub_dominance"),
        )
    )


def intrapartition_density(eu: DataFrame, partition: DataFrame) -> DataFrame:
    """(subset, density): internal edge density per cluster, 6dp."""
    lab = _labeled(eu, partition)
    internal = (
        lab.where((F.col("cs") == F.col("cd")) & (F.col("src") < F.col("dst")))
        .groupBy(F.col("cs").alias("subset"))
        .agg(F.count(F.lit(1)).alias("m_in"))
    )
    sizes = partition.groupBy("subset").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.join(internal, "subset", "left").select(
        "subset",
        F.round(
            F.when(
                F.col("sz") > 1,
                F.coalesce("m_in", F.lit(0)).cast("double")
                / (F.col("sz") * (F.col("sz") - 1) / 2),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("density"),
    )


def isolated_interpartition_conductance(
    eu: DataFrame, partition: DataFrame
) -> DataFrame:
    """(subset, conductance, expansion): cut/min(vol, vol_rest) and
    cut/min(sz, n-sz), 6dp (IsolatedInterpartitionConductance/Expansion)."""
    lab = _labeled(eu, partition)
    per = lab.groupBy(F.col("cs").alias("subset")).agg(
        F.count(F.lit(1)).alias("vol"),
        F.sum(F.when(F.col("cs") != F.col("cd"), 1).otherwise(0)).alias("cut"),
    )
    sizes = partition.groupBy("subset").agg(F.count(F.lit(1)).alias("sz"))
    totals = per.agg(F.sum("vol").alias("vol_g")).crossJoin(
        partition.agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per.join(sizes, "subset")
        .crossJoin(F.broadcast(totals))
        .select(
            "subset",
            F.round(
                F.col("cut").cast("double")
                / F.greatest(
                    F.least(F.col("vol"), F.col("vol_g") - F.col("vol")), F.lit(1)
                ),
                6,
            ).alias("conductance"),
            F.round(
                F.col("cut").cast("double")
                / F.greatest(F.least(F.col("sz"), F.col("n") - F.col("sz")), F.lit(1)),
                6,
            ).alias("expansion"),
        )
    )


def stable_partition_nodes(eu: DataFrame, partition: DataFrame) -> DataFrame:
    """Single row (stable_fraction): share of nodes whose intra-cluster
    neighbor count strictly exceeds the inter-cluster one, 6dp."""
    lab = _labeled(eu, partition)
    per_node = lab.groupBy(F.col("src").alias("id")).agg(
        F.sum(F.when(F.col("cs") == F.col("cd"), 1).otherwise(0)).alias("intra"),
        F.sum(F.when(F.col("cs") != F.col("cd"), 1).otherwise(0)).alias("inter"),
    )
    return per_node.agg(
        F.round(
            F.avg(F.when(F.col("intra") > F.col("inter"), 1.0).otherwise(0.0)), 6
        ).alias("stable_fraction")
    )


def local_partition_coverage(eu: DataFrame, partition: DataFrame) -> DataFrame:
    """(id, coverage): same-cluster neighbor fraction per node, 6dp
    (centrality/LocalPartitionCoverage.hpp:13)."""
    lab = _labeled(eu, partition)
    return lab.groupBy(F.col("src").alias("id")).agg(
        F.round(
            F.avg(F.when(F.col("cs") == F.col("cd"), 1.0).otherwise(0.0)), 6
        ).alias("coverage")
    )


def partition_fragmentation(
    eu: DataFrame, partition: DataFrame, max_iter: int = 30
) -> DataFrame:
    """(subset, fragmentation): 1 - |largest connected piece| / |C| on the
    cluster-induced subgraph (PartitionFragmentation.hpp:13). Connected
    pieces via ``connected_components`` over the intra-cluster arcs, each
    node seeded with its own id — all clusters converge in one shared
    loop, and no arc crosses a cluster."""
    intra = _labeled(eu, partition).where(F.col("cs") == F.col("cd"))
    comp = connected_components(
        checkpoint(intra.select("src", "dst")),
        max_iter,
        labels=partition.select("id", F.col("id").alias("component")),
    )
    piece = (
        comp.join(partition.select("id", "subset"), "id")
        .groupBy("subset", "component")
        .agg(F.count(F.lit(1)).alias("psz"))
    )
    largest = piece.groupBy("subset").agg(F.max("psz").alias("max_piece"))
    sizes = partition.groupBy("subset").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.join(largest, "subset", "left").select(
        "subset",
        F.round(
            1.0 - F.coalesce("max_piece", F.lit(1)).cast("double") / F.col("sz"), 6
        ).alias("fragmentation"),
    )


def cover_f1_similarity(cover: DataFrame, reference: DataFrame) -> DataFrame:
    """(subset, f1): for each subset of `cover`, the best F1 against any
    reference subset (CoverF1Similarity.hpp:26). Covers are (id, subset)
    with duplicate ids allowed."""
    inter = (
        cover.select("id", F.col("subset").alias("a"))
        .join(reference.select("id", F.col("subset").alias("b")), "id")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = cover.groupBy(F.col("subset").alias("a")).agg(F.count(F.lit(1)).alias("na"))
    sb = reference.groupBy(F.col("subset").alias("b")).agg(F.count(F.lit(1)).alias("nb"))
    f1 = (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            (2.0 * F.col("i") / (F.col("na") + F.col("nb"))).alias("f1"),
        )
        .groupBy("a")
        .agg(F.max("f1").alias("best"))
    )
    return sa.join(f1, "a", "left").select(
        F.col("a").alias("subset"),
        F.round(F.coalesce("best", F.lit(0.0)), 6).alias("f1"),
    )


def permanence(eu: DataFrame, partition: DataFrame) -> DataFrame:
    """(id, permanence): I(v)/(E_max(v)·deg(v)) - (1 - cc_int(v)), 6dp
    (PermanenceCentrality.hpp:13). cc_int = clustering coefficient among
    v's INTERNAL neighbors; E_max = max edges to a single external
    cluster (≥1 in the denominator per the reference)."""
    lab = checkpoint(_labeled(eu, partition))
    per_node = lab.groupBy(F.col("src").alias("id"), F.col("cs").alias("c")).agg(
        F.count(F.lit(1)).alias("deg"),
        F.sum(F.when(F.col("cs") == F.col("cd"), 1).otherwise(0)).alias("internal"),
    )
    emax = (
        lab.where(F.col("cs") != F.col("cd"))
        .groupBy(F.col("src").alias("id"), F.col("cd"))
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("id")
        .agg(F.max("k").alias("emax"))
    )
    # internal clustering: edges among internal neighbors of v
    intra_adj = lab.where(F.col("cs") == F.col("cd")).select(
        F.col("src").alias("v"), F.col("dst").alias("n")
    )
    p1 = intra_adj.select("v", F.col("n").alias("a"))
    p2 = intra_adj.select("v", F.col("n").alias("b"))
    wedge = p1.join(p2, "v").where(F.col("a") < F.col("b"))
    closed = wedge.join(
        eu.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        ).distinct(),
        ["a", "b"],
        "leftsemi",
    ).groupBy(F.col("v").alias("id")).agg(F.count(F.lit(1)).alias("tri_int"))
    return (
        per_node.join(emax, "id", "left")
        .join(closed, "id", "left")
        .select(
            "id",
            F.round(
                F.col("internal").cast("double")
                / (F.greatest(F.coalesce("emax", F.lit(0)), F.lit(1)) * F.col("deg"))
                - (
                    1.0
                    - F.when(
                        F.col("internal") >= 2,
                        2.0 * F.coalesce("tri_int", F.lit(0))
                        / (F.col("internal") * (F.col("internal") - 1)),
                    ).otherwise(F.lit(0.0))
                ),
                6,
            ).alias("permanence"),
        )
    )
