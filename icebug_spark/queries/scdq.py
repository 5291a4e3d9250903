"""SCD + embedding query entries (rows-only: iterative PPR push and
seeded-walk pipelines have no closed-form SQL twin; exactness is covered
by unit goldens in tests/test_scd_embedding.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.catalog import EU_SQL, derived_edges, derived_edges_undirected
from icebug_spark.operators.embedding import random_walks
from icebug_spark.operators.scd import pagerank_nibble, set_conductance
from icebug_spark.plans.iterate import checkpoint

_SEEDS = [1, 2, 3, 4, 5]


def q62(spark: SparkSession, sf: str) -> DataFrame:
    """PageRankNibble invariants per fixed seed (PPR push values are not
    SQL-expressible; the checkable claims): the community contains its
    seed, is non-empty, and its sweep-cut conductance is a valid ratio in
    (0, 1]. A broken push/sweep flips a boolean; the oracle expects one
    all-TRUE row per seed."""
    eu = checkpoint(derived_edges_undirected(spark, sf))
    members = checkpoint(pagerank_nibble(eu, _SEEDS, alpha=0.15, eps=1e-4))
    sizes = members.groupBy("seed").agg(
        F.count(F.lit(1)).alias("size"),
        F.max((F.col("id") == F.col("seed")).cast("int")).alias("has_seed"),
    )
    cond = set_conductance(eu, members)
    return (
        sizes.join(cond, "seed")
        .select(
            "seed",
            (F.col("has_seed") == 1).alias("contains_seed"),
            (F.col("size") >= 1).alias("nonempty"),
            ((F.col("conductance") > 0) & (F.col("conductance") <= 1)).alias(
                "conductance_valid"
            ),
        )
        .orderBy("seed")
    )


Q62_SQL = "SELECT seed, TRUE AS contains_seed, TRUE AS nonempty, TRUE AS conductance_valid FROM (VALUES {}) t(seed)".format(
    ", ".join(f"({x})" for x in _SEEDS)
)


def q63(spark: SparkSession, sf: str) -> DataFrame:
    """node2vec walk certificate: one walk per non-isolated node of the
    id-capped subgraph (count is SQL-computable), every consecutive pair
    in every walk is a real arc (transition validity — verified by
    exploding the walks and anti-joining the edge list), and every walk
    starts at its own node. Hash-seeded hop choices themselves are not
    SQL-expressible; a broken bias/step would emit an invalid transition
    and flip the boolean."""
    eu = derived_edges_undirected(spark, sf)
    small = checkpoint(eu.where((F.col("src") < 500) & (F.col("dst") < 500)))
    # walk_length 6: the certificate validates EVERY transition either
    # way; two fewer hop-join rounds keeps the sweep budget down
    walks = checkpoint(random_walks(small, walk_length=6, walks_per_node=1, seed=42
                         ))
    hops = walks.select(
        F.posexplode(
            F.arrays_zip(
                F.slice("walk", 1, F.size("walk") - 1),
                F.slice("walk", 2, F.size("walk") - 1),
            )
        ).alias("pos", "hop")
    ).select(
        F.col("hop")["0"].alias("src"), F.col("hop")["1"].alias("dst")
    )
    bad_hops = hops.join(small, ["src", "dst"], "left_anti").count()
    starts_ok = walks.where(
        F.element_at("walk", 1) != F.col("walk_id")
    ).count()
    return walks.agg(
        F.count(F.lit(1)).alias("n_walks"),
        F.lit(bad_hops == 0).alias("transitions_valid"),
        F.lit(starts_ok == 0).alias("starts_at_own_node"),
    )


Q63_SQL = f"""
SELECT COUNT(DISTINCT src) AS n_walks,
       TRUE AS transitions_valid, TRUE AS starts_at_own_node
FROM ({EU_SQL}) WHERE src < 500 AND dst < 500
"""


def _restricted_eu(spark: SparkSession, sf: str, cap: int = 400) -> DataFrame:
    """Id-capped subgraph of the derived customer–supplier graph: keeps
    every supplier hub (ids ≤ 100) plus customers below ``cap`` so the
    radius-2 seed balls stay bounded at every sf (the SCD expanders are
    local algorithms — the cap models the 'small seed neighborhood'
    regime they are built for, not a scalability workaround: the batched
    ball extraction itself is one BFS regardless of graph size)."""
    eu = derived_edges_undirected(spark, sf)
    return checkpoint(eu.where((F.col("src") < cap) & (F.col("dst") < cap)))


_SCD_SEEDS = [101, 102, 103]


def _scd_props(eu: DataFrame, members: DataFrame, seeds: list[int], weak: bool = False):
    """Per-seed property checks over the engine's own output:
    seed ∈ C, and (unless weak) every non-seed member has ≥1 neighbor
    inside C (expansion never adds a node with no tie to the community).
    ``weak`` (TwoPhaseL) additionally allows the documented empty result."""
    m = checkpoint(members)
    ms = m.select("seed", F.col("id").alias("src"))
    md = m.select("seed", F.col("id").alias("dst"))
    internal = eu.join(ms, "src").join(md, ["seed", "dst"])
    covered = internal.select("seed", F.col("src").alias("id")).distinct()
    need = m.where(F.col("id") != F.col("seed"))
    uncovered = (
        need.join(covered, ["seed", "id"], "left_anti")
        .groupBy("seed")
        .agg(F.count(F.lit(1)).alias("n_uncovered"))
    )
    sizes = m.groupBy("seed").agg(
        F.count(F.lit(1)).alias("size"),
        F.max(F.when(F.col("id") == F.col("seed"), 1).otherwise(0)).alias("has_seed"),
    )
    spark = eu.sparkSession
    seed_df = spark.createDataFrame([(s,) for s in seeds], "seed BIGINT")
    props = (
        seed_df.join(sizes, "seed", "left")
        .join(uncovered, "seed", "left")
        .na.fill({"size": 0, "has_seed": 0, "n_uncovered": 0})
    )
    if weak:
        ok = (F.col("size") == 0) | (F.col("has_seed") == 1)
    else:
        ok = (
            (F.col("size") > 0)
            & (F.col("has_seed") == 1)
            & (F.col("n_uncovered") == 0)
        )
    return props.select("seed", ok.alias("ok"))


def _expansion_query(algos: list[tuple[str, bool]], cap: int = 400, max_size: int = 20):
    from icebug_spark.operators.scd2 import expand_communities

    def q(spark: SparkSession, sf: str) -> DataFrame:
        from icebug_spark.operators.scd2 import seed_balls

        eu = _restricted_eu(spark, sf, cap)
        balls = seed_balls(eu, _SCD_SEEDS, radius=2)
        out = None
        for algo, weak in algos:
            members = expand_communities(
                eu, _SCD_SEEDS, algo=algo, radius=2, max_size=max_size, balls=balls
            )
            props = _scd_props(eu, members, _SCD_SEEDS, weak=weak).select(
                F.lit(algo).alias("algo"), "seed", "ok"
            )
            out = props if out is None else out.unionByName(props)
        return out.orderBy("algo", "seed")

    return q


def _expansion_oracle(algos: list[str]) -> str:
    rows = ", ".join(
        f"('{a}', {s})" for a in sorted(algos) for s in _SCD_SEEDS
    )
    return (
        f"SELECT algo, CAST(seed AS BIGINT) AS seed, TRUE AS ok "
        f"FROM (VALUES {rows}) AS t(algo, seed) ORDER BY algo, seed"
    )


q92 = _expansion_query([("gce_m", False), ("gce_l", False)])
q93 = _expansion_query([("tce", False), ("lte", False)])
q94 = _expansion_query(
    [("local_t", False), ("two_phase_l", True)], cap=250, max_size=12
)
q95 = _expansion_query([("clique", False), ("lfm_local", False)])


def q96(spark: SparkSession, sf: str) -> DataFrame:
    """CombinedSCD (clique → GCE-M) + SCDGroundTruthComparison against a
    hash ground truth (subset = id % 5): per seed, score-bounds property
    checks (reference scd/CombinedSCD.hpp:16,
    SCDGroundTruthComparison.cpp)."""
    from icebug_spark.operators.scd2 import combined_scd, ground_truth_comparison

    eu = _restricted_eu(spark, sf)
    members = checkpoint(combined_scd(
        eu, _SCD_SEEDS, first="clique", second="gce_m", radius=2, max_size=20
    ))
    nodes = eu.select(F.col("src").alias("id")).distinct()
    gt = nodes.select("id", (F.col("id") % 5).alias("subset"))
    scored = ground_truth_comparison(members, gt)
    return scored.select(
        "seed",
        (
            (F.col("tp") <= F.col("detected_size"))
            & (F.col("tp") <= F.col("truth_size"))
            & (F.col("precision") >= 0) & (F.col("precision") <= 1)
            & (F.col("recall") >= 0) & (F.col("recall") <= 1)
            & (F.col("f1") >= 0) & (F.col("f1") <= 1)
            & (F.col("jaccard") >= 0) & (F.col("jaccard") <= 1)
        ).alias("ok"),
    ).orderBy("seed")


Q96_SQL = (
    "SELECT CAST(seed AS BIGINT) AS seed, TRUE AS ok FROM (VALUES (101), (102), "
    "(103)) AS t(seed) ORDER BY seed"
)


SCD = {
    "q62_pagerank_nibble": (q62, Q62_SQL),
    "q63_node2vec_walks": (q63, Q63_SQL),
    "q92_gce_expansion": (q92, _expansion_oracle(["gce_m", "gce_l"])),
    "q93_tce_lte_expansion": (q93, _expansion_oracle(["tce", "lte"])),
    "q94_local_t_two_phase": (q94, _expansion_oracle(["local_t", "two_phase_l"])),
    "q95_clique_detect": (q95, _expansion_oracle(["clique", "lfm_local"])),
    "q96_scd_ground_truth": (q96, Q96_SQL),
}
