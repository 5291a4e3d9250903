"""Degree-preserving graph randomization (null models).

Parity targets (reference ``randomization/``):
- EdgeSwitching.hpp:110 / EdgeSwitchingInPlace.hpp:43 — Markov chain of
  2-edge switches (a,b),(c,d) → (a,d),(c,b);
- DegreePreservingShuffle.hpp:36 — permute node ids within degree groups;
- Curveball.hpp:26 / GlobalCurveball.hpp:24 — neighbor-list trades
  between node pairs.

Spark shapes: every round is a bulk, seeded, conflict-free batch —
the reference applies switches one at a time; the batch variant pairs
up disjoint edges per round (hash-partition into pairs), switches every
pair whose switch stays simple, and repeats. Same stationary
distribution family (degree-preserving), deterministic under seed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint
from icebug_spark.plans.zipindex import dense_index


def degree_preserving_shuffle(eu: DataFrame, seed: int = 42) -> DataFrame:
    """DegreePreservingShuffle: relabel nodes with a random permutation
    that maps each node to another of the SAME degree → exact joint
    degree preservation. Returns relabeled (src, dst)."""
    deg = (
        eu.select(F.col("src").alias("id"))
        .union(eu.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    w_orig = Window.partitionBy("deg").orderBy("id")
    w_perm = Window.partitionBy("deg").orderBy(F.xxhash64("id", F.lit(seed)), "id")
    mapping = (
        deg.withColumn("pos", F.row_number().over(w_orig))
        .withColumn("pos2", F.row_number().over(w_perm))
    )
    relabel = (
        mapping.select("deg", F.col("pos").alias("k"), F.col("id").alias("old"))
        .join(
            mapping.select("deg", F.col("pos2").alias("k"), F.col("id").alias("new")),
            ["deg", "k"],
        )
        .select("old", "new")
    )
    return (
        eu.join(relabel.withColumnRenamed("old", "src"), "src")
        .select(F.col("new").alias("src"), "dst")
        .join(relabel.withColumnRenamed("old", "dst"), "dst")
        .select("src", F.col("new").alias("dst"))
    )


def edge_switching(
    edges_undirected: DataFrame,
    rounds: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Batched edge switching: per round, hash-pair the canonical edges;
    each disjoint pair ((a,b),(c,d)) with all four endpoints distinct
    proposes the switch (a,d),(c,b); applied iff neither new edge already
    exists (graph stays simple). Degree sequence is invariant.

    One round = one window + two joins; ~m/2 switches attempted per round
    versus the reference's one-at-a-time chain (EdgeSwitching.hpp:110) —
    the batch chain mixes comparably per edge-touch and is fully
    data-parallel."""
    e = checkpoint(
        edges_undirected.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    for r in range(rounds):
        # seeded random pairing via the two-pass dense index (ascending
        # hash order) — the naive global row_number window funnels every
        # edge through ONE task per round
        hashed = e.withColumn("h", F.xxhash64("u", "v", F.lit(seed), F.lit(r)))
        paired = (
            dense_index(hashed, ["h", "u", "v"], out="rn", assume_distinct=True)
            .withColumn("pair", (F.col("rn") / 2).cast("long"))
            .withColumn("side", F.pmod("rn", F.lit(2)))
        )
        a = paired.where(F.col("side") == 0).select(
            "pair", F.col("u").alias("a"), F.col("v").alias("b")
        )
        b = paired.where(F.col("side") == 1).select(
            "pair", F.col("u").alias("c"), F.col("v").alias("d")
        )
        cand = (
            a.join(b, "pair")
            .where(
                (F.col("a") != F.col("c")) & (F.col("a") != F.col("d"))
                & (F.col("b") != F.col("c")) & (F.col("b") != F.col("d"))
            )
            .select(
                "pair", "a", "b", "c", "d",
                F.least("a", "d").alias("n1u"), F.greatest("a", "d").alias("n1v"),
                F.least("c", "b").alias("n2u"), F.greatest("c", "b").alias("n2v"),
            )
        )
        # reject switches whose replacement edges collide with existing
        # edges or with each other
        exist = e.select(F.col("u").alias("n1u"), F.col("v").alias("n1v")).withColumn(
            "hit1", F.lit(1)
        )
        exist2 = e.select(F.col("u").alias("n2u"), F.col("v").alias("n2v")).withColumn(
            "hit2", F.lit(1)
        )
        ok = (
            cand.join(exist, ["n1u", "n1v"], "left")
            .join(exist2, ["n2u", "n2v"], "left")
            .where(
                F.col("hit1").isNull()
                & F.col("hit2").isNull()
                & ~((F.col("n1u") == F.col("n2u")) & (F.col("n1v") == F.col("n2v")))
            )
            .select("pair", "a", "b", "c", "d", "n1u", "n1v", "n2u", "n2v")
        )
        # cross-pair collision guard: two switches proposing the SAME new
        # edge would merge under distinct() and silently drop a degree —
        # reject every switch whose proposed edge is proposed twice
        proposals = ok.select("pair", F.col("n1u").alias("u"), F.col("n1v").alias("v")).union(
            ok.select("pair", F.col("n2u").alias("u"), F.col("n2v").alias("v"))
        )
        dup_pairs = (
            proposals.withColumn(
                "n_prop", F.count(F.lit(1)).over(Window.partitionBy("u", "v"))
            )
            .where(F.col("n_prop") > 1)
            .select("pair")
            .distinct()
        )
        ok = checkpoint(ok.join(dup_pairs, "pair", "left_anti"))
        removed = ok.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            ok.select(F.col("c").alias("u"), F.col("d").alias("v"))
        )
        added = ok.select(F.col("n1u").alias("u"), F.col("n1v").alias("v")).union(
            ok.select(F.col("n2u").alias("u"), F.col("n2v").alias("v"))
        )
        e = checkpoint(
            e.join(removed, ["u", "v"], "left_anti")
            .union(added)
            .distinct()
        )
    return e.select(F.col("u").alias("src"), F.col("v").alias("dst"))


def curveball_trades(
    eu: DataFrame, rounds: int = 10, seed: int = 42, half_parity: int = 0
) -> DataFrame:
    """Curveball: per round, hash-pair the nodes; each pair (x, y) keeps
    its shared neighbors and re-deals the disjoint remainder between the
    two, preserving both degrees (Curveball.hpp:26; a full batch of
    disjoint pairs per round ≡ GlobalCurveball's global trade).

    Input/output: symmetrized (src, dst). Per round only a hash-sampled
    half of the nodes trade (paired among themselves); candidate
    neighbors are restricted to NON-traded nodes, so simultaneous trades
    never conflict: an arc between two traded nodes is untouched, and a
    non-traded neighbor n just swaps one endpoint (degree invariant).
    The re-deal is a seeded hash ranking split at x's quota."""
    adj = eu.select("src", "dst")
    for r in range(rounds):
        nodes = adj.select(F.col("src").alias("id")).distinct()
        half = nodes.where(
            F.pmod(F.xxhash64("id", F.lit(seed), F.lit(r), F.lit(0)), F.lit(2))
            == half_parity
        )
        hashed = half.withColumn("h", F.xxhash64("id", F.lit(seed), F.lit(r)))
        paired = (
            dense_index(hashed, ["h", "id"], out="rn", assume_distinct=True)
            .withColumn("trade", (F.col("rn") / 2).cast("long"))
            .withColumn("side", F.pmod("rn", F.lit(2)))
        )
        x = paired.where(F.col("side") == 0).select("trade", F.col("id").alias("x"))
        y = paired.where(F.col("side") == 1).select("trade", F.col("id").alias("y"))
        pairs = checkpoint(x.join(y, "trade"))
        traded = checkpoint(pairs.select(F.col("x").alias("id")).union(
            pairs.select(F.col("y").alias("id"))
        ))
        # participating arcs: traded endpoint → non-traded neighbor
        part = (
            adj.join(traded.withColumnRenamed("id", "src"), "src", "leftsemi")
            .join(traded.withColumnRenamed("id", "dst"), "dst", "left_anti")
        )
        ax = pairs.join(part.withColumnRenamed("src", "x"), "x").select(
            "trade", "x", "y", F.col("dst").alias("n")
        )
        ay = pairs.join(part.withColumnRenamed("src", "y"), "y").select(
            "trade", "x", "y", F.col("dst").alias("n")
        )
        both = ax.withColumn("from_x", F.lit(1)).unionByName(
            ay.withColumn("from_x", F.lit(0))
        )
        counts = both.groupBy("trade", "x", "y", "n").agg(
            F.sum("from_x").alias("fx"), F.count(F.lit(1)).alias("cnt")
        )
        shared = counts.where(F.col("cnt") == 2)
        tradable = counts.where(F.col("cnt") == 1)
        quota = tradable.groupBy("trade").agg(F.sum("fx").alias("qx"))
        wt = Window.partitionBy("trade").orderBy(
            F.xxhash64("n", F.lit(seed), F.lit(r), F.lit(1)), "n"
        )
        dealt = (
            tradable.join(quota, "trade")
            .withColumn("pos", F.row_number().over(wt))
            .withColumn("to_x", (F.col("pos") <= F.col("qx")).cast("int"))
        )
        new_x = shared.select("x", "n").union(
            dealt.where(F.col("to_x") == 1).select("x", "n")
        )
        new_y = shared.select("y", "n").union(
            dealt.where(F.col("to_x") == 0).select("y", "n")
        )
        fwd = (
            new_x.select(F.col("x").alias("src"), F.col("n").alias("dst"))
            .union(new_y.select(F.col("y").alias("src"), F.col("n").alias("dst")))
        )
        # untouched arcs: everything except participating arcs and their
        # reverses (arcs between two traded nodes, or two untraded, stay)
        keep = adj.join(
            part.select("src", "dst")
            .union(part.select(F.col("dst").alias("src"), F.col("src").alias("dst"))),
            ["src", "dst"],
            "left_anti",
        )
        adj = checkpoint(
            keep.union(fwd)
            .union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
        )
    return adj


def global_curveball(eu: DataFrame, global_trades: int = 5, seed: int = 42) -> DataFrame:
    """GlobalCurveball (``randomization/GlobalCurveball.hpp:43``): each
    global trade pairs EVERY node exactly once and trades all pairs. The
    reference executes one global permutation sequentially; conflict-free
    distributed execution splits each global trade into two half-round
    batches of disjoint pairs (the existing ``curveball_trades`` round
    trades a hash-chosen half) — after both halves every node has traded
    once, which is exactly the global-trade schedule guarantee. Degrees
    are preserved by the same argument as the single-round trade."""
    adj = eu.select("src", "dst")
    for t in range(global_trades):
        # two half-rounds with complementary hash parity ⇒ every node
        # participates in exactly one trade per global trade
        adj = curveball_trades(adj, rounds=1, seed=seed + t, half_parity=0)
        adj = curveball_trades(adj, rounds=1, seed=seed + t, half_parity=1)
    return adj
