"""Node embedding: node2vec random walks + Word2Vec training.

Parity target: reference ``embedding/Node2Vec.hpp:29,50`` (P, Q,
walkLength L, walksPerNode N, dim D) with learning in
``cpp/embedding/LearnEmbedding.cpp`` (SGNS word2vec over walks).

Spark shape (SURVEY §2.11): walks are N·n rows advanced L-1 times by a
seeded weighted-sample join; the 2nd-order p/q bias needs only the
previous node column plus one edge lookup (is-neighbor-of-previous).
Sampling is hash-seeded (pure function of (walk_id, step, candidate)) —
reproducible, no rand() per executor retry. The embedding itself is
``pyspark.ml.feature.Word2Vec`` over the walk 'sentences', exactly the
reference's SGNS stage but JVM-distributed.

Walk state is one row per walk — at 100 TB this is the standard
distributed node2vec: state size n·N, each step one join against the
(bucketed) adjacency, lineage truncated every few steps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def random_walks(
    eu: DataFrame,
    walk_length: int = 10,
    walks_per_node: int = 2,
    p: float = 1.0,
    q: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """node2vec walks over a symmetrized edge list (src, dst).

    Returns (walk_id, walk ARRAY<BIGINT>). Bias: candidate next-hop x from
    node v with previous node t gets weight 1/p if x==t, 1 if x ∈ N(t),
    1/q otherwise (Grover-Leskovec); selection = argmax over
    hash-uniform^(1/weight) (exponential-race sampling), a pure function
    of (walk_id, step, x, seed)."""
    adj = eu.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    nodes = adj.select("node").distinct()
    walks = (
        nodes.crossJoin(F.broadcast(
            nodes.sparkSession.range(walks_per_node).select(F.col("id").alias("w"))
        ))
        .select(
            (F.col("node") * walks_per_node + F.col("w")).alias("walk_id"),
            F.col("node").alias("start"),
        )
        .select(
            "walk_id",
            F.array("start").alias("path"),
            F.col("start").alias("cur"),
            F.lit(None).cast("long").alias("prev"),
        )
    )
    is_nbr_of_prev = adj.select(
        F.col("node").alias("prev"), F.col("nbr").alias("cand")
    ).withColumn("near_prev", F.lit(1))
    for step in range(1, walk_length):
        cands = (
            walks.join(adj, walks.cur == adj.node)
            .select("walk_id", "path", "cur", "prev", F.col("nbr").alias("cand"))
        )
        if p != 1.0 or q != 1.0:
            cands = cands.join(is_nbr_of_prev, ["prev", "cand"], "left")
            bias = (
                F.when(F.col("cand") == F.col("prev"), F.lit(1.0 / p))
                .when(F.col("near_prev").isNotNull(), F.lit(1.0))
                .otherwise(F.lit(1.0 / q))
            )
        else:
            bias = F.lit(1.0)
        u01 = (
            (F.pmod(F.xxhash64("walk_id", F.lit(step), "cand", F.lit(seed)),
                    F.lit(1_000_000_007)) + 1).cast("double")
            / F.lit(1_000_000_009.0)
        )
        # exponential race: key = u^(1/w) — max key wins, matches weighted
        # sampling without normalizing (A-Res / Efraimidis-Spirakis)
        keyed = cands.withColumn("skey", F.pow(u01, F.lit(1.0) / bias))
        # race winner via grouped min-struct ((-skey, cand) ordering IS
        # the (skey desc, cand asc) tie-break; (walk_id, cand) unique and
        # path/cur constant per walk) — identical selection, no per-step
        # window SORT. skey > 0 strictly (pmod+1 numerator), so the
        # negation cannot produce -0.0.
        nxt = (
            keyed.groupBy("walk_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("skey")).alias("nk"),
                        F.col("cand").alias("cand"),
                        F.col("path").alias("path"),
                        F.col("cur").alias("cur"),
                    )
                ).alias("sel")
            )
            .select(
                "walk_id",
                F.concat("sel.path", F.array("sel.cand")).alias("path"),
                F.col("sel.cand").alias("cur"),
                F.col("sel.cur").alias("prev"),
            )
        )
        # dead-end walks (no candidates) stop growing but are kept
        stalled = walks.join(nxt.select("walk_id"), "walk_id", "left_anti")
        walks = nxt.unionByName(stalled)
        if step % 4 == 3:
            walks = checkpoint(walks)
    return walks.select("walk_id", F.col("path").alias("walk"))


def node2vec_embeddings(
    eu: DataFrame,
    dim: int = 32,
    walk_length: int = 10,
    walks_per_node: int = 2,
    p: float = 1.0,
    q: float = 1.0,
    window: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, vector ARRAY<FLOAT>) via Word2Vec over node2vec walks."""
    from pyspark.ml.feature import Word2Vec

    walks = random_walks(eu, walk_length, walks_per_node, p, q, seed)
    sentences = walks.select(
        F.transform(F.col("walk"), lambda x: x.cast("string")).alias("sentence")
    )
    w2v = Word2Vec(
        vectorSize=dim,
        windowSize=window,
        minCount=0,
        seed=seed,
        inputCol="sentence",
        outputCol="vec",
    )
    model = w2v.fit(sentences)
    vectors = model.getVectors()  # (word STRING, vector VECTOR)
    from pyspark.ml.functions import vector_to_array

    return vectors.select(
        F.col("word").cast("long").alias("id"),
        vector_to_array("vector").cast("array<float>").alias("vector"),
    )
