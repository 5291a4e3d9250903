"""Link-prediction / neighborhood-similarity indices — pure join+agg ops.

Parity targets (reference ``linkprediction/``, base ``LinkPredictor.hpp:22``):
CommonNeighborsIndex:22, JaccardIndex:23, AdamicAdarIndex:22,
ResourceAllocationIndex:22, PreferentialAttachmentIndex:22,
TotalNeighborsIndex:22; plus per-edge distances
``distance/JaccardDistance.hpp:23`` / ``AdamicAdarDistance.hpp:20``.

Canonical shape: common-neighbor pairs = self-join of the adjacency on the
shared neighbor column, grouped by (u, v). All indices derive from exact
integer counts (deterministic across engines); transcendental scores
(Adamic-Adar) round to 6dp.

Scale notes: the self-join keys on the *middle* node, so hub nodes are the
skew hazard — a hub of degree d emits d² wedge rows into ONE shuffle task
(the same hot spot the reference schedules around with guided OpenMP
pragmas, ``graph/Graph.hpp:1537``). Default remedy is AQE skew-join
splitting (enabled in the session factory). For AQE-off engines or when
the wedge fan-out must also stay partitioned for a later stage, set
``spark.icebug.saltHotDegree`` to a degree threshold: middle nodes above
it are split out and joined through ``plans.skew.salted_join``, which
scatters each hot node's wedges across salt sub-keys (per-task work
drops ~salt×) while the cold majority takes the plain join. Pair filters
are pushed below the join either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint
from icebug_spark.plans.skew import salted_join

#: sub-keys per hot middle node when spark.icebug.saltHotDegree is set;
#: hot-side shuffle volume grows ×SALT on the (few, by construction)
#: hot rows in exchange for ~SALT× smaller max task.
_HOT_SALT = 16


def _neighbor_pairs(adj: DataFrame, pair_filter=None) -> DataFrame:
    """(u, v, n) rows: u < v sharing neighbor n; adj = (node, nbr)."""
    a = adj.select(F.col("node").alias("u"), F.col("nbr").alias("n"))
    b = adj.select(F.col("node").alias("v"), F.col("nbr").alias("n"))
    if pair_filter is not None:
        a = a.where(pair_filter(F.col("u")))
        b = b.where(pair_filter(F.col("v")))
    spark = adj.sparkSession
    thresh = int(spark.conf.get("spark.icebug.saltHotDegree", "0"))
    pairs = None
    if thresh > 0:
        # hot KEY SET is usually small (few nodes exceed the threshold
        # even when their edge mass is huge) → broadcastable — but that
        # assumption is VALIDATED, not trusted: a user-set low threshold
        # on a big graph could make the force-broadcast OOM executors.
        # The count is bounded by limit(cap+1) so the guard itself never
        # scans the full key set; over the cap we fall back to the plain
        # join and let AQE's runtime skew split handle it.
        cap = int(spark.conf.get("spark.icebug.saltHotMaxKeys", "100000"))
        deg = b.groupBy("n").agg(F.count(F.lit(1)).alias("dn"))
        hot_keys = deg.where(F.col("dn") > thresh).select("n")
        n_hot = hot_keys.limit(cap + 1).count()
        if 0 < n_hot <= cap:
            # checkpoint so the four hot-set joins below don't recompute
            # the degree aggregation once each
            hot = F.broadcast(checkpoint(hot_keys))
            pairs = (
                a.join(hot, "n", "left_anti")
                .join(b.join(hot, "n", "left_anti"), "n")
                .unionByName(
                    salted_join(
                        a.join(hot, "n", "leftsemi"),
                        b.join(hot, "n", "leftsemi"),
                        "n",
                        salt=_HOT_SALT,
                        # adjacency rows are distinct → the row-value
                        # hash scatters without the duplicate-ordinal
                        # shuffle
                        disambiguate=False,
                    )
                )
            )
    if pairs is None:
        pairs = a.join(b, "n")
    return pairs.where(F.col("u") < F.col("v"))


def common_neighbors(adj: DataFrame, pair_filter=None) -> DataFrame:
    """(u, v, common_neighbors) for pairs with >= 1 shared neighbor."""
    return (
        _neighbor_pairs(adj, pair_filter)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )


def jaccard_index(adj: DataFrame, pair_filter=None) -> DataFrame:
    """(u, v, jaccard) rounded 6dp; degree = |N(node)| from adj."""
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    cn = common_neighbors(adj, pair_filter)
    return (
        cn.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def adamic_adar(adj: DataFrame, pair_filter=None) -> DataFrame:
    """(u, v, adamic_adar): sum over shared neighbors n of 1/ln(deg(n)),
    restricted to deg(n) >= 2 (ln(1)=0 would divide by zero — the
    reference skips degree-1 commons the same way). Rounded 6dp."""
    deg = adj.groupBy(F.col("nbr").alias("n")).agg(
        F.count(F.lit(1)).alias("dn")
    )
    pairs = _neighbor_pairs(adj, pair_filter)
    return (
        pairs.join(deg, "n")
        .where(F.col("dn") >= 2)
        .groupBy("u", "v")
        .agg(F.round(F.sum(F.lit(1.0) / F.log(F.col("dn").cast("double"))), 6).alias("adamic_adar"))
    )


def preferential_attachment(
    adj: DataFrame, pair_filter=None
) -> DataFrame:
    """(u, v, pref_attach) = deg(u)*deg(v) over all candidate pairs u < v."""
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    if pair_filter is not None:
        deg = deg.where(pair_filter(F.col("node")))
    a = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    b = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    return (
        a.join(b, F.col("u") < F.col("v"))
        .select("u", "v", (F.col("du") * F.col("dv")).alias("pref_attach"))
    )


def degree_assortativity(edges_undirected: DataFrame) -> DataFrame:
    """Pearson correlation of endpoint degrees over directed arc list
    (reference ``correlation/Assortativity.hpp:23``). Computed from exact
    BIGINT sums so the double arithmetic is order-independent; single row
    (assortativity DOUBLE) rounded 6dp. Zero degree variance (regular
    graphs) → NULL via try_divide (the correlation is undefined; the
    reference emits NaN from its 0/0)."""
    eu = edges_undirected.select("src", "dst")
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    pairs = (
        eu.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("dx")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("dy")), "dst")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    return s.select(
        F.round(
            F.try_divide(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double"),
                F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")),
            ),
            6,
        ).alias("assortativity")
    )
