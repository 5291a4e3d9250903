"""Distance analytics part 2: ANF sketches, hop plot, landmark distance
oracle, some-pairs shortest paths.

Parity targets:
- ``distance/EffectiveDiameterApproximation.hpp:24-37`` — ANF with
  Flajolet-Martin bitmasks (k=64 parallel approximations, r extra bits,
  ratio=0.9);
- ``distance/NeighborhoodFunctionApproximation.hpp:19`` — same sketch,
  N(h) curve;
- ``distance/HopPlotApproximation.hpp:21`` — normalized hop plot;
- ``distance/PrunedLandmarkLabeling.hpp:12`` — 2-hop label distance
  oracle. The reference's pruned construction is sequential-order-
  dependent (SURVEY §7 'hard'); here the labels are per-landmark BFS
  tables — an upper-bound oracle that is exact whenever some shortest
  u-v path passes a landmark, the standard distributed landmark scheme;
- ``distance/SPSP.hpp:22`` — some-pairs shortest paths.

The ANF loop is the Spark-native sketch pattern: per node k FM registers
packed in an ARRAY<BIGINT>; one hop = OR-aggregate neighbor sketches
(zip_with + bit ops, all JVM-side), exactly approx_count_distinct's
machinery iterated along edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.traversal import multi_source_bfs
from icebug_spark.plans.iterate import checkpoint, checkpoint_observe, mirror

_PHI = 0.77351  # Flajolet-Martin bias correction


def _init_sketches(nodes: DataFrame, k: int, seed: int) -> DataFrame:
    """(id, sk ARRAY<BIGINT>): k FM registers; node sets bit b with
    probability 2^-(b+1) (geometric), via trailing-zero count of a hash."""
    regs = []
    for j in range(k):
        h = F.xxhash64("id", F.lit(j), F.lit(seed))
        # trailing zeros of the hash == geometric(1/2) bit position
        bitpos = F.least(
            F.length(F.regexp_extract(F.bin(F.abs(h)), "(0*)$", 1)), F.lit(30)
        )
        # shiftleft() needs a literal shift amount — 2^bitpos via pow is
        # exact for bitpos <= 30
        regs.append(F.pow(F.lit(2.0), bitpos).cast("long"))
    return nodes.select("id", F.array(*regs).alias("sk"))


def _estimate(sk_col) -> F.Column:
    """FM estimate from k registers: 2^avg(lowest-zero-bit) / phi."""
    lowest_zero = F.transform(
        sk_col,
        # position of lowest 0 bit of r = trailing ones count = trailing
        # zeros of ~r; compute via bin + regex on the negated pattern
        lambda r: F.length(F.regexp_extract(F.bin(F.bitwise_not(r)), "(0*)$", 1)),
    )
    avg_b = F.aggregate(
        lowest_zero, F.lit(0.0), lambda acc, x: acc + x
    ) / F.size(lowest_zero)
    return F.pow(F.lit(2.0), avg_b) / F.lit(_PHI)


def anf_sketch_iteration(
    eu: DataFrame, k: int = 32, max_h: int = 8, seed: int = 42
) -> DataFrame:
    """Run the ANF loop; returns (h, n_pairs_est DOUBLE): estimated #pairs
    within distance <= h, for h = 0..max_h (h=0 counts the nodes).

    One round: sk(v) ← sk(v) OR (OR of neighbor sketches) — a single
    groupBy with bitwise-OR zip, no per-node state on the driver."""
    # loop-invariant edge table materialized once; n sizes the hints
    eu = checkpoint(eu)
    nodes = eu.select(F.col("src").alias("id")).distinct()
    sk = checkpoint(_init_sketches(nodes, k, seed))
    spark = eu.sparkSession
    # a sketch row (id + k-long array) is ~8x an (id, x) row, so scale
    # the row bound the broadcast cap compares against accordingly
    n = nodes.count() * max(1, k // 4)
    out = [(0, float(nodes.count()))]
    for h in range(1, max_h + 1):
        msgs = (
            # mirror(): node-bounded sketches move, the edge table stays
            eu.join(mirror(sk, n).withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "sk")
        )
        # OR is idempotent/commutative, so sk(v) ← sk(v) OR (OR of
        # neighbor sketches) is ONE grouped bit_or over the node's own
        # sketch (carrier row) unioned with its neighbors' — the old
        # join-back of the aggregated neighbor sketch onto the state
        # (second n-row join + zip_with) folds into the same exchange.
        # The pair estimate rides the checkpoint as an observed metric:
        # one Spark job per round instead of two.
        merged = (
            sk.unionByName(msgs)
            .groupBy("id")
            .agg(
                F.array(
                    *[F.bit_or(F.element_at("sk", j + 1)).alias(f"r{j}") for j in range(k)]
                ).alias("sk")
            )
        )
        sk, met = checkpoint_observe(
            merged, F.sum(_estimate(F.col("sk"))).alias("t")
        )
        out.append((h, float(met["t"])))
    return spark.createDataFrame(out, "h INT, n_pairs_est DOUBLE")


def anf_effective_diameter(
    eu: DataFrame, ratio: float = 0.9, k: int = 32, max_h: int = 8, seed: int = 42
) -> DataFrame:
    """EffectiveDiameterApproximation: smallest h with N(h) >= ratio·N(max_h)."""
    nf = anf_sketch_iteration(eu, k, max_h, seed)
    spark = eu.sparkSession
    total = nf.agg(F.max("n_pairs_est")).collect()[0][0]
    row = nf.where(F.col("n_pairs_est") >= ratio * total).agg(
        F.min("h").cast("long").alias("effective_diameter_est")
    )
    return row


def hop_plot(eu: DataFrame, k: int = 32, max_h: int = 8, seed: int = 42) -> DataFrame:
    """HopPlotApproximation: (h, fraction) — N(h)/N(max_h), 4dp."""
    nf = checkpoint(anf_sketch_iteration(eu, k, max_h, seed))
    total = nf.agg(F.max("n_pairs_est")).collect()[0][0] or 1.0
    return nf.select("h", F.round(F.col("n_pairs_est") / total, 4).alias("fraction"))


def landmark_labels(
    eu: DataFrame, n_landmarks: int = 16, max_hops: int = 32
) -> DataFrame:
    """Landmark label table (id, landmark, dist): BFS from the top-degree
    landmarks (the reference orders PLL construction by degree too).
    Batched multi-source BFS — one frontier loop for all landmarks."""
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    lm = [
        r["id"]
        for r in deg.orderBy(F.col("deg").desc(), "id").limit(n_landmarks).collect()
    ]
    d = multi_source_bfs(eu, lm, max_hops=max_hops)
    return d.select(F.col("source").alias("landmark"), F.col("id"), F.col("dist"))


def landmark_distance(labels: DataFrame, pairs: DataFrame) -> DataFrame:
    """Distance oracle query: (u, v, dist_ub) = min over landmarks of
    d(u,l)+d(l,v) — exact when a shortest path passes a landmark, else an
    upper bound (PrunedLandmarkLabeling.query parity)."""
    lu = labels.select(F.col("id").alias("u"), "landmark", F.col("dist").alias("du"))
    lv = labels.select(F.col("id").alias("v"), "landmark", F.col("dist").alias("dv"))
    return (
        pairs.join(lu, "u")
        .join(lv, ["v", "landmark"])
        .groupBy("u", "v")
        .agg(F.min(F.col("du") + F.col("dv")).alias("dist_ub"))
    )


def spsp(eu: DataFrame, sources: list[int], targets: list[int]) -> DataFrame:
    """Some-pairs shortest paths (SPSP.hpp:22): (source, target, dist)
    for the requested pair grid, unreachable pairs omitted."""
    d = multi_source_bfs(eu, sources)
    t = d.sparkSession.createDataFrame([(x,) for x in targets], "id BIGINT")
    return d.join(t, "id", "leftsemi").select(
        "source", F.col("id").alias("target"), "dist"
    )


def neighborhood_function_heuristic(
    eu: DataFrame,
    n_samples: int = 0,
    strategy: str = "split",
    seed: int = 42,
) -> DataFrame:
    """NeighborhoodFunctionHeuristic (reference
    ``distance/NeighborhoodFunctionHeuristic.cpp:36``): estimate the
    neighborhood function N(h) by BFS from a node sample. Sample size
    defaults to ceil(max(0.15·n, sqrt(m))) (cpp:18); strategies:
    ``split`` — every (n/samples)-th node of the degree-ASCENDING order
    (cpp:118, deterministic), ``random`` — hash-uniform draws (cpp:104,
    seeded here). The reference's endpoint enhancements are kept:
    N(1) = 2m exact, N(dia) = n(n-1) exact, interior estimates are
    round(count·n/samples) accumulated cumulatively. The diameter comes
    from the double-sweep bound (the reference runs its exact Diameter
    algorithm; on the connected undirected graphs this operator
    requires, double sweep is exact on the overwhelming majority of
    real graphs and the array length is the only thing at stake).
    → (h, n_pairs), h = 1..dia.

    Spark shape: the sample BFS is ONE batched multi-source BFS
    (pair-keyed frontier), the histogram one groupBy — sample size
    scales out, never a per-source loop."""
    from icebug_spark.operators.distances import diameter_double_sweep
    from icebug_spark.plans.zipindex import dense_index

    eu = checkpoint(eu.select("src", "dst"))
    spark = eu.sparkSession
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()
    m = eu.count() // 2
    if n == 0:
        return spark.createDataFrame([], "h BIGINT, n_pairs BIGINT")
    if not n_samples:
        import math as _math

        n_samples = int(_math.ceil(max(0.15 * n, _math.sqrt(m))))
    n_samples = min(n_samples, n)

    dia = diameter_double_sweep(eu).collect()[0]["diameter_lb"] or 1
    dia = int(dia)

    if strategy == "split":
        # dense rank over (deg, id) = the reference's stable
        # ascending-degree sort; pick every stepwidth-th position
        ranked = dense_index(deg, ["deg", "id"], out="pos", assume_distinct=True)
        step = max(n // n_samples, 1)
        picks = ranked.where(
            (F.col("pos") % step == 0) & (F.col("pos") / step < n_samples)
        )
    elif strategy == "random":
        ranked = dense_index(deg, ["id"], out="pos", assume_distinct=True)
        draws = spark.range(n_samples).select(
            (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n))).alias("pos")
        )
        picks = ranked.join(draws.distinct(), "pos")
    else:
        raise ValueError("strategy must be 'split' or 'random'")
    sources = [int(r["id"]) for r in picks.select("id").collect()]
    n_samples = len(sources)

    d = multi_source_bfs(eu, sources, max_hops=dia)
    hist = {
        int(r["dist"]): int(r["cnt"])
        for r in d.where(F.col("dist") > 0)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # reference accumulation (cpp:70-95): exact endpoints, scaled
    # cumulative interior; std::round = half-away-from-zero, which for
    # the nonnegative scaled counts is floor(x + 0.5) — NOT Python's
    # banker's round()
    import math as _m

    result = [0] * dia
    result[0] = 2 * m
    if dia >= 2:
        result[dia - 1] = n * (n - 1)
    norm = n / float(n_samples)
    for dist in range(2, dia):
        result[dist - 1] = int(_m.floor(hist.get(dist, 0) * norm + 0.5))
        result[dist - 1] += result[dist - 2]
    return spark.createDataFrame(
        [(h + 1, int(v)) for h, v in enumerate(result)], "h BIGINT, n_pairs BIGINT"
    )
