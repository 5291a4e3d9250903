"""Embedding similarity search over the ``embeddings`` table.

Pipeline extension (driver north-star): brute-force cosine top-k as the
exact baseline (oracle-checkable vs DuckDB list functions) and a
signed-random-projection LSH bucketing as the scale path.

Scale design: brute-force is a broadcast nested-loop of Q query vectors
against N corpus vectors — O(Q·N·d) but embarrassingly parallel and
shuffle-free when the query side is broadcast (exactly how you'd score
100 TB of embeddings against a small probe set). The SRP-LSH variant cuts
candidate generation to bucket collisions for large Q·N. All arithmetic is
JVM-side (zip_with/aggregate fold in array order — deterministic)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2(a):
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(
    embeddings: DataFrame,
    query_filter,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``query_filter``: Column predicate over vec_id selecting the probe set
    (kept small → broadcast). Returns (query_id, vec_id, cosine, rnk) with
    cosine rounded 6dp and rank ties broken by vec_id (deterministic).
    Self-matches are excluded. Each vector's norm is computed once,
    before the cross join, so a pair costs one dot product."""
    from pyspark.sql import Window

    # each norm once per vector (the probe's from the same column), not
    # twice per pair; dot / (qnrm * nrm) keeps the per-pair formula's
    # operand order, so every double — and its 6 dp rounding — is
    # unchanged (unit-normalizing first would move the last bits)
    base = embeddings.select(
        "vec_id", "embedding", F.sqrt(_norm2(F.col("embedding"))).alias("nrm")
    )
    q = base.where(query_filter(F.col("vec_id"))).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(base)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("qemb"), F.col("embedding"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def srp_buckets(embeddings: DataFrame, planes: int = 16) -> DataFrame:
    """Signed-random-projection LSH bucket per vector → (vec_id, bucket).

    Hyperplane p's component for dimension d is a deterministic ±1 derived
    from xxhash64(p, d) — reproducible across runs/partitions with no
    driver-side randomness. Bucket = packed sign bits of the p dot
    products. Vectors in the same bucket are near-dup / high-cosine
    candidates; verify with exact cosine."""
    emb = F.col("embedding")
    dims = F.size(emb)
    bits = []
    for p in range(planes):
        proj = F.aggregate(
            F.zip_with(
                emb,
                F.sequence(F.lit(0), dims - 1),
                lambda x, d: x.cast("double")
                * F.when(F.pmod(F.xxhash64(F.lit(p), d), 2) == 0, 1.0).otherwise(-1.0),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return embeddings.select("vec_id", bucket.alias("bucket"))


def ivf_assign(embeddings: DataFrame, n_cells: int = 16) -> DataFrame:
    """IVF coarse quantizer: (vec_id, cell, cosine_to_centroid).

    Centroids are the ``n_cells`` corpus vectors whose vec_id hashes
    lowest (deterministic, no training pass — at 100 TB you'd swap in
    k-means centroids from ``pyspark.ml.clustering.KMeans`` on a sample;
    the assignment join below is unchanged). Assignment = argmax cosine
    against the broadcast centroid set: one broadcast nested loop, no
    shuffle of the big side."""
    from pyspark.sql import Window

    base = embeddings.select("vec_id", "embedding")
    cent = (
        base.withColumn("h", F.xxhash64("vec_id"))
        .orderBy("h", "vec_id")
        .limit(n_cells)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("cemb"))
    )
    scored = (
        base.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cell",
            (
                _dot(F.col("embedding"), F.col("cemb"))
                / (F.sqrt(_norm2(F.col("embedding"))) * F.sqrt(_norm2(F.col("cemb"))))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "cell", F.round("cos", 6).alias("cosine_to_centroid"))
    )


def ivf_topk(
    embeddings: DataFrame,
    query_filter,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` nearest cells per
    query, exact cosine only within probed cells → (query_id, vec_id,
    cosine, rnk). The scale path: candidate set shrinks by ~n_probe/
    n_cells vs brute force while the per-cell scan stays shuffle-free."""
    from pyspark.sql import Window

    assign = ivf_assign(embeddings, n_cells)
    base = embeddings.select("vec_id", "embedding").join(assign.select("vec_id", "cell"), "vec_id")
    # cell ids ARE centroid vec_ids (ivf_assign picks centroids by hash)
    cent = (
        embeddings.select("vec_id", "embedding")
        .withColumn("h", F.xxhash64("vec_id"))
        .orderBy("h", "vec_id")
        .limit(n_cells)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("cemb"))
    )
    q = base.where(query_filter(F.col("vec_id"))).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb")
    )
    # nearest n_probe cells per query
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cell"))
    probes = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qemb",
            "cell",
            (
                _dot(F.col("qemb"), F.col("cemb"))
                / (F.sqrt(_norm2(F.col("qemb"))) * F.sqrt(_norm2(F.col("cemb"))))
            ).alias("qcos"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "qemb", "cell")
    )
    scored = (
        base.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("qemb"), F.col("embedding"))
                / (F.sqrt(_norm2(F.col("qemb"))) * F.sqrt(_norm2(F.col("embedding")))),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def embedding_near_duplicates(
    embeddings: DataFrame, min_cosine: float = 0.95, planes: int = 10
) -> DataFrame:
    """Embedding-cosine near-dup pairs (vec_a, vec_b, cosine ≥ t) — the
    semantic-dedup pass of a training pipeline. LSH-bucketed candidate
    generation + exact verify (ann_candidates) so the pair count stays
    ~linear instead of N²."""
    return ann_candidates(embeddings, planes=planes, min_cosine=min_cosine)


def ann_candidates(
    embeddings: DataFrame, planes: int = 12, min_cosine: float = 0.0
) -> DataFrame:
    """LSH candidate pairs verified with exact cosine →
    (vec_a, vec_b, cosine). The scale path for all-pairs similarity."""
    b = srp_buckets(embeddings, planes)
    a = b.select(F.col("vec_id").alias("vec_a"), "bucket")
    c = b.select(F.col("vec_id").alias("vec_b"), "bucket")
    pairs = (
        a.join(c, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    base = embeddings.select("vec_id", "embedding")
    return (
        pairs.join(
            base.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")),
            "vec_a",
        )
        .join(
            base.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            F.round(
                _dot(F.col("ea"), F.col("eb"))
                / (F.sqrt(_norm2(F.col("ea"))) * F.sqrt(_norm2(F.col("eb")))),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
    )


def _kmeans_state(
    embeddings: DataFrame, k: int, iters: int, scale: int
) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column →
    (vec_id, cell) after ``iters`` update rounds — the clustering step a
    SemDeDup-style curation pipeline (cluster, then near-dup within
    clusters) or a trained IVF quantizer needs. Every number in the loop
    is an INTEGER: embeddings are quantized once to
    ``round(x·scale)`` (bigint), distances are exact integer squared
    Euclidean, the argmin tie-breaks on the lower cell id, and the
    centroid update is ``floor(sum/count)`` per dimension — so Spark and
    DuckDB replay the identical trajectory bit-for-bit (no FP summation-
    order divergence), and the oracle is full-value. Init = the k lowest
    vec_ids' vectors (cells numbered 0..k-1 in that order).

    Scale: per iteration one broadcast of k tiny centroid rows against
    the full table (no shuffle of the big side) and one (cell, dim)
    groupBy for the update — the classic distributed Lloyd shape. The
    k·dim centroid pull per round is the only driver traffic."""
    if k < 1 or iters < 0:
        raise ValueError(f"k must be >= 1 and iters >= 0, got {k}, {iters}")
    q = checkpoint(embeddings.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * float(scale)).cast("long"),
        ).alias("qv"),
    ))

    def assign(cent: DataFrame) -> DataFrame:
        # the k centroids ride ONE broadcast row as an array; the argmin
        # is an in-row array_min over (d2, cell) structs — struct
        # ordering IS the (lowest d2, then lowest cell) tie-break — so
        # an assign is a zero-shuffle projection of the checkpointed
        # quantized table. The old shape exploded n·k rows through a
        # Window.partitionBy(vec_id) shuffle per assign call.
        cents = cent.agg(F.collect_list(F.struct("cell", "cv")).alias("cents"))
        best = F.array_min(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with("qv", c["cv"], lambda a, b: (a - b) * (a - b)),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d2"),
                    c["cell"].alias("cell"),
                ),
            )
        )["cell"]
        return (
            q.crossJoin(F.broadcast(cents))
            .select("vec_id", "qv", best.alias("cell"))
        )

    from icebug_spark.plans.zipindex import dense_index

    # init cells via the two-pass zipindex rank over the k LIMITed rows
    # — no unpartitioned window, sweep logs stay WindowExec-clean
    top = q.orderBy(F.asc("vec_id")).limit(int(k))
    cent = checkpoint(
        top.join(
            dense_index(top, ["vec_id"], out="cell", assume_distinct=True),
            "vec_id",
        )
        .select("cell", F.col("qv").alias("cv"))
    )
    a = assign(cent)
    for _ in range(int(iters)):
        upd = checkpoint(
            a.select("cell", F.posexplode("qv").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(
                F.floor(
                    F.sum("val").cast("double") / F.count(F.lit(1))
                ).cast("long").alias("cval")
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cval"))),
                    lambda s: s["cval"],
                ).alias("cv")
            )
        )
        a = assign(upd)
    return a


def kmeans_assign_sql(k: int = 8, iters: int = 3, scale: int = 1000) -> str:
    """DuckDB twin of :func:`kmeans_assign`: the same integer Lloyd
    rounds as a generated MATERIALIZED-CTE chain (one assign + one
    floor-mean update per iteration)."""
    ctes = [
        f"""q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {int(scale)}) AS BIGINT)) AS qv
  FROM embeddings
), c0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, qv AS cv
  FROM q ORDER BY vec_id LIMIT {int(k)}
)"""
    ]

    def assign(i: int, cent: str) -> str:
        return f"""a{i} AS MATERIALIZED (
  SELECT vec_id, qv, cell FROM (
    SELECT q.vec_id, q.qv, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_sum(list_transform(
                        list_zip(q.qv, c.cv),
                        p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cell
           ) AS rn
    FROM q, {cent} c
  ) WHERE rn = 1
)"""

    parts = [assign(0, "c0")]
    for i in range(1, int(iters) + 1):
        parts.append(
            f"""c{i} AS MATERIALIZED (
  SELECT cell, list(cval ORDER BY dim) AS cv FROM (
    SELECT cell, dim,
           CAST(floor(SUM(val) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cval
    FROM (
      SELECT cell, u.i AS dim, qv[u.i + 1] AS val
      FROM a{i - 1}, unnest(range(0, len(qv))) AS u(i)
    ) GROUP BY cell, dim
  ) GROUP BY cell
)"""
        )
        parts.append(assign(i, f"c{i}"))
    return (
        "WITH "
        + ",\n".join(ctes + parts)
        + f"\nSELECT vec_id, cell FROM a{int(iters)}"
    )


def kmeans_assign(
    embeddings: DataFrame, k: int = 8, iters: int = 3, scale: int = 1000
) -> DataFrame:
    """Public shape of :func:`_kmeans_state`: (vec_id, cell)."""
    return _kmeans_state(embeddings, k, iters, scale).select("vec_id", "cell")


def semdedup_pairs(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    threshold_num: int = 2,
    threshold_den: int = 5,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) candidate pruning: cluster with the
    deterministic integer k-means, then emit within-cluster pairs whose
    cosine exceeds ``threshold_num/threshold_den`` → (vec_a, vec_b,
    cell). The cosine test is EXACT integer arithmetic on the quantized
    vectors — ``den²·dot² ≥ num²·|a|²·|b|²`` with ``dot > 0`` — so both
    engines agree bit-for-bit with no sqrt or float division anywhere.

    Scale: the pairwise work is confined within clusters (shuffle keyed
    by cell, then an intra-cell self-join); in a production run k grows
    with n so cells stay bounded (SemDeDup uses ~100k clusters for
    LAION-scale) — the clustering is the thing that makes within-cluster
    O(cell²) affordable."""
    a = _kmeans_state(embeddings, k, iters, scale)
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    lhs = a.select(F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"), "cell")
    rhs = a.select(F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"), "cell")
    num, den = int(threshold_num), int(threshold_den)
    return (
        lhs.join(rhs, "cell")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("dot", dot)
        .withColumn("na", nrm(F.col("qa")))
        .withColumn("nb", nrm(F.col("qb")))
        .where(
            (F.col("dot") > 0)
            & (
                F.lit(den * den) * F.col("dot") * F.col("dot")
                >= F.lit(num * num) * F.col("na") * F.col("nb")
            )
        )
        .select("vec_a", "vec_b", "cell")
    )


def semdedup_pairs_sql(
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    threshold_num: int = 2,
    threshold_den: int = 5,
) -> str:
    """DuckDB twin of :func:`semdedup_pairs`: the k-means chain plus the
    within-cell integer-cosine pair filter."""
    chain = kmeans_assign_sql(k, iters, scale)
    chain = chain[: chain.rindex("\nSELECT ")]  # drop the final projection
    num, den = int(threshold_num), int(threshold_den)
    return (
        chain
        + f"""
, pr AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
         list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS dot,
         list_sum(list_transform(a.qv, x -> x * x)) AS na,
         list_sum(list_transform(b.qv, x -> x * x)) AS nb
  FROM a{int(iters)} a JOIN a{int(iters)} b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cell FROM pr
WHERE dot > 0 AND {den * den} * dot * dot >= {num * num} * na * nb
"""
    )


def kcenter_select(
    embeddings: DataFrame, k: int = 8, scale: int = 1000
) -> DataFrame:
    """Greedy k-centers (farthest-first traversal, the classic 2-approx
    k-center rule and the coreset-selection step of active-learning /
    data-curation pipelines): start from the lowest vec_id, then k−1
    times pick the vector farthest (max min-distance, tie → lower
    vec_id) from the chosen set → (center_rank, vec_id, d2) where d2 is
    the selected vector's squared distance to the previously chosen
    centers (0 for the seed). Distances use the same round(x·scale)
    bigint quantization as :func:`kmeans_assign`, so the trajectory is
    exact integer arithmetic and the DuckDB oracle replays it verbatim.

    Scale: the maintained state is one (vec_id, qv, mind) table; each
    round is one argmax pull (TakeOrdered, no full sort) and one
    broadcast-1-row min-distance fold, pinned — the standard distributed
    farthest-first shape."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = checkpoint(embeddings.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * float(scale)).cast("long"),
        ).alias("qv"),
    ))

    def d2_to(cv_col):
        return F.aggregate(
            F.zip_with("qv", cv_col, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    seed = q.orderBy(F.asc("vec_id")).limit(1).collect()[0]
    out = [(0, int(seed["vec_id"]), 0)]
    # every chosen center is a DRIVER-known k·dim literal, so the
    # min-distance state is a composed least(...) chain evaluated
    # directly on the checkpointed quantized table — one TakeOrdered job
    # per greedy round instead of two (argmax collect + state
    # checkpoint). k folds per row in the last round is trivial next to
    # a full-table materialization per round.
    mind = d2_to(F.array(*[F.lit(int(v)) for v in seed["qv"]]))
    for rank in range(1, int(k)):
        far = (
            q.select("vec_id", "qv", mind.alias("mind"))
            .orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        out.append((rank, int(far["vec_id"]), int(far["mind"])))
        cv = F.array(*[F.lit(int(v)) for v in far["qv"]])
        mind = F.least(mind, d2_to(cv))
    return embeddings.sparkSession.createDataFrame(
        out, "center_rank INT, vec_id BIGINT, d2 BIGINT"
    )


def kcenter_select_sql(k: int = 8, scale: int = 1000) -> str:
    """DuckDB twin of :func:`kcenter_select`: the greedy rounds unrolled
    into a MATERIALIZED-CTE chain (argmax + min-distance fold each)."""
    if int(k) < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    d2 = (
        "list_sum(list_transform(list_zip(m.qv, c.qv), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    ctes = [
        f"""q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {int(scale)}) AS BIGINT)) AS qv
  FROM embeddings
), cc0 AS MATERIALIZED (
  SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1
), m0 AS MATERIALIZED (
  SELECT m.vec_id, m.qv, {d2} AS mind
  FROM q m, cc0 c
)"""
    ]
    for i in range(1, int(k)):
        ctes.append(
            f"""cc{i} AS MATERIALIZED (
  SELECT vec_id, qv, mind FROM m{i - 1} ORDER BY mind DESC, vec_id LIMIT 1
), m{i} AS MATERIALIZED (
  SELECT m.vec_id, m.qv, LEAST(m.mind, {d2}) AS mind
  FROM m{i - 1} m, cc{i} c
)"""
        )
    unions = "\nUNION ALL\n".join(
        ["SELECT CAST(0 AS INT) AS center_rank, vec_id, CAST(0 AS BIGINT) AS d2 FROM cc0"]
        + [
            f"SELECT CAST({i} AS INT) AS center_rank, vec_id, "
            f"CAST(mind AS BIGINT) AS d2 FROM cc{i}"
            for i in range(1, int(k))
        ]
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions
