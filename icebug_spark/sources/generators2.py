"""Generators part 2: hyperbolic random graphs, LFR benchmark,
Dorogovtsev-Mendes, power-law degree sequences, configuration model,
Havel-Hakimi, and dynamic (event-stream) generator wrappers.

Parity targets (reference generators/, 4,228 LoC):
- HyperbolicGenerator        ``generators/HyperbolicGenerator.hpp:24`` (494)
- LFRGenerator               ``generators/LFRGenerator.hpp:28`` (776)
- DorogovtsevMendesGenerator ``generators/DorogovtsevMendesGenerator.hpp:18``
- PowerlawDegreeSequence     ``generators/PowerlawDegreeSequence.hpp:12`` (337)
- ConfigurationModel / EdgeSwitchingMarkovChainGenerator
  ``generators/ConfigurationModelGenerator.hpp:16``
- HavelHakimiGenerator       ``generators/HavelHakimiGenerator.hpp:26``
- Dynamic* generators        ``generators/Dynamic*.hpp`` → GraphEvent rows

Everything distributed is a seeded pure function of a ``spark.range``
index (reproducible, shuffle-free generation); the sequential-by-nature
constructions (Havel-Hakimi, Dorogovtsev-Mendes) are documented driver
fallbacks with size guards (SURVEY §7).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def _u01(*cols):
    """Deterministic uniform(0,1) from xxhash64 of the given columns."""
    h = F.xxhash64(*cols)
    return (F.pmod(h, F.lit(1_000_000_007)).cast("double")) / 1_000_000_007.0


def hyperbolic_graph(
    spark: SparkSession,
    n: int,
    avg_degree: float = 6.0,
    gamma: float = 3.0,
    seed: int = 1,
    bands: int = 16,
) -> DataFrame:
    """Random hyperbolic graph (threshold variant, T=0): points sampled in
    a hyperbolic disk of radius R; u~v iff d_H(u,v) ≤ R (reference
    ``generators/HyperbolicGenerator.hpp:24``; Krioukov et al model).

    Scale shape: candidate pairs come from a BAND range-join — the disk is
    split into ``bands`` radial bands; a pair can only connect if the
    angular gap is below the per-band-pair bound, so the join is
    angle-bucketed (the distributed analog of the reference's quadtree).
    Exact distance filter applied after candidate generation."""
    alpha = (gamma - 1) / 2.0
    R = 2 * math.log(n / avg_degree) + 1.0 if n > avg_degree else 2.0

    pts = hyperbolic_points(spark, n, alpha, R, seed)
    return hyperbolic_threshold_edges(pts, R, bands)


def hyperbolic_points(
    spark: SparkSession, n: int, alpha: float, R: float, seed: int
) -> DataFrame:
    """Hash-seeded hyperbolic-disk point sample (id, phi, r) — shared by
    the static generator and DynamicHyperbolic (same seed ⇒ the dynamic
    generator's t=0 graph IS the static graph)."""
    return spark.range(n).select(
        F.col("id"),
        (2 * math.pi * _u01(F.lit(seed), F.col("id"), F.lit(0))).alias("phi"),
        # radial CDF F(r) = sinh(alpha r)/ (cosh(alpha R)-1): invert approx
        # via acosh(1 + u*(cosh(aR)-1))/a
        (
            F.acosh(
                1.0
                + _u01(F.lit(seed), F.col("id"), F.lit(1))
                * (math.cosh(alpha * R) - 1.0)
            )
            / alpha
        ).alias("r"),
    )


def hyperbolic_threshold_edges(
    pts: DataFrame, R: float, bands: int = 16
) -> DataFrame:
    """T=0 threshold edges over a (id, phi, r) point table — the banded
    candidate join + exact cosh-distance filter shared by the static and
    dynamic hyperbolic generators."""
    band_w = 2 * math.pi / bands
    pts = pts.withColumn("band", F.floor(F.col("phi") / band_w).cast("int"))
    pts = checkpoint(pts)

    # adjacent-band candidate pairs (wrap-around); hyperbolic closeness
    # needs small angular gap unless radii are tiny, so +-1 band plus the
    # low-radius core joined with everything
    core_r = R / 2.0
    core = pts.where(F.col("r") <= core_r)
    a = pts.select(
        F.col("id").alias("u"), F.col("phi").alias("pu"), F.col("r").alias("ru"), "band"
    )
    nb = []
    for dlt in (-1, 0, 1):
        b = pts.select(
            F.col("id").alias("v"),
            F.col("phi").alias("pv"),
            F.col("r").alias("rv"),
            (F.pmod(F.col("band") + dlt, F.lit(bands))).cast("int").alias("band"),
        )
        nb.append(a.join(b, "band").drop("band"))
    cand = nb[0].union(nb[1]).union(nb[2])
    core_pairs = (
        core.select(F.col("id").alias("u"), F.col("phi").alias("pu"), F.col("r").alias("ru"))
        .crossJoin(
            pts.select(F.col("id").alias("v"), F.col("phi").alias("pv"), F.col("r").alias("rv"))
        )
    )
    cand = cand.union(core_pairs).where(F.col("u") < F.col("v")).dropDuplicates(["u", "v"])

    dphi = F.abs(F.col("pu") - F.col("pv"))
    dphi = F.least(dphi, 2 * math.pi - dphi)
    # hyperbolic distance: cosh d = cosh ru cosh rv − sinh ru sinh rv cos dφ
    coshd = (
        F.cosh("ru") * F.cosh("rv")
        - F.sinh("ru") * F.sinh("rv") * F.cos(dphi)
    )
    edges = cand.where(coshd <= math.cosh(R)).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    return edges


def powerlaw_degree_sequence(
    spark: SparkSession,
    n: int,
    gamma: float = 2.5,
    min_deg: int = 1,
    max_deg: int | None = None,
    seed: int = 3,
) -> DataFrame:
    """PowerlawDegreeSequence (``generators/PowerlawDegreeSequence.hpp:12``):
    (id, deg) with P(deg=k) ∝ k^(−gamma), sampled by inverse-CDF of the
    Pareto tail — a pure seeded function of id."""
    kmax = max_deg or max(int(math.sqrt(n)), min_deg + 1)
    u = _u01(F.lit(seed), F.col("id"))
    a = 1.0 - gamma
    # inverse CDF of truncated power law on [min_deg, kmax]
    lo, hi = float(min_deg) ** a, float(kmax) ** a
    deg = F.pow(u * (hi - lo) + lo, 1.0 / a)
    return spark.range(n).select(
        "id", F.greatest(F.floor(deg), F.lit(min_deg)).cast("long").alias("deg")
    )


def configuration_model(
    degrees: DataFrame, seed: int = 5
) -> DataFrame:
    """ConfigurationModel via distributed stub matching (reference
    ``generators/ConfigurationModelGenerator.hpp:16``): explode each node
    into ``deg`` stubs, shuffle stubs by seeded hash, pair consecutive
    ranks. Self-loops/multi-edges dropped (reference rejects or keeps per
    flag; we drop — the EdgeSwitching chain in
    ``operators/randomization.py`` is the exactness refinement)."""
    from icebug_spark.plans.zipindex import dense_index

    stubs = degrees.select(
        "id", F.explode(F.sequence(F.lit(1), F.col("deg"))).alias("s")
    ).withColumn("h", F.xxhash64(F.lit(seed), "id", "s"))
    # 2m stubs ranked via two-pass zipWithIndex — (h, id, s) is unique so
    # the shuffled order is identical to the old global window's
    ranked = dense_index(stubs, ["h", "id", "s"], out="rn", assume_distinct=True)
    left = ranked.where(F.col("rn") % 2 == 0).select(
        (F.col("rn") / 2).cast("long").alias("k"), F.col("id").alias("src")
    )
    right = ranked.where(F.col("rn") % 2 == 1).select(
        ((F.col("rn") - 1) / 2).cast("long").alias("k"), F.col("id").alias("dst")
    )
    return (
        left.join(right, "k")
        .where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .distinct()
    )


def havel_hakimi(spark: SparkSession, degrees: list[int], max_n: int = 50_000) -> DataFrame:
    """HavelHakimiGenerator (``generators/HavelHakimiGenerator.hpp:26``) —
    inherently sequential greedy realization; driver fallback with size
    guard. Returns (src, dst) or raises if the sequence is not graphical."""
    if len(degrees) > max_n:
        raise ValueError(f"havel_hakimi driver fallback refuses n={len(degrees)}")
    import heapq

    heap = [(-d, i) for i, d in enumerate(degrees) if d > 0]
    heapq.heapify(heap)
    edges = []
    while heap:
        d, v = heapq.heappop(heap)
        d = -d
        take = []
        for _ in range(d):
            if not heap:
                raise ValueError("degree sequence not graphical")
            du, u = heapq.heappop(heap)
            take.append((-du, u))
        for du, u in take:
            edges.append((min(v, u), max(v, u)))
            if du - 1 > 0:
                heapq.heappush(heap, (-(du - 1), u))
    if not edges:
        return spark.createDataFrame([], "src long, dst long")
    return spark.createDataFrame(sorted(set(edges)), "src long, dst long")


def dorogovtsev_mendes(spark: SparkSession, n: int, seed: int = 9, max_n: int = 200_000) -> DataFrame:
    """DorogovtsevMendesGenerator
    (``generators/DorogovtsevMendesGenerator.hpp:18``): start with a
    triangle; each new node attaches to both endpoints of a uniformly
    chosen existing edge. Growth is sequential (each step depends on the
    edge list so far) → seeded driver loop with size guard; the result is
    returned distributed."""
    if n > max_n:
        raise ValueError(f"dorogovtsev_mendes driver fallback refuses n={n}")
    import random

    rng = random.Random(seed)
    edges = [(0, 1), (1, 2), (0, 2)]
    for v in range(3, n):
        a, b = edges[rng.randrange(len(edges))]
        edges.append((a, v))
        edges.append((b, v))
    return spark.createDataFrame(edges, "src long, dst long")


def lfr_graph(
    spark: SparkSession,
    n: int,
    avg_deg: int = 10,
    community_sizes: list[int] | None = None,
    mu: float = 0.2,
    seed: int = 13,
) -> tuple[DataFrame, DataFrame]:
    """LFR-style benchmark (reference ``generators/LFRGenerator.hpp:28``):
    power-law-ish communities with mixing parameter mu (fraction of
    inter-community endpoints). Composition per SURVEY §2.13: assign nodes
    to communities, then wire an SBM whose intra-probability matches
    (1−mu)·avg_deg and whose inter-probability spreads mu·avg_deg over the
    rest. Returns (edges, ground_truth_partition) — both seeded pure
    functions of ids."""
    if community_sizes is None:
        # geometric-ish sizes summing to n
        community_sizes = []
        rem, s = n, max(n // 10, 4)
        while rem > 0:
            sz = min(s, rem)
            community_sizes.append(sz)
            rem -= sz
            s = max(4, int(s * 0.8))
    bounds = []
    acc = 0
    for ci, sz in enumerate(community_sizes):
        bounds.append((acc, acc + sz, ci))
        acc += sz

    part_rows = [(i, ci) for lo, hi, ci in bounds for i in range(lo, hi)]
    part = spark.createDataFrame(part_rows, "id long, subset long")

    sizes = {ci: hi - lo for lo, hi, ci in bounds}
    n_comm = len(bounds)
    intra_p = {
        ci: min(1.0, (1 - mu) * avg_deg / max(sizes[ci] - 1, 1)) for ci in sizes
    }
    inter_p = min(1.0, mu * avg_deg / max(n - 1, 1))

    pairs = (
        spark.range(n)
        .select(F.col("id").alias("u"))
        .join(spark.range(n).select(F.col("id").alias("v")), F.lit(True))
        .where(F.col("u") < F.col("v"))
    )
    p_u = part.select(F.col("id").alias("u"), F.col("subset").alias("cu"))
    p_v = part.select(F.col("id").alias("v"), F.col("subset").alias("cv"))
    intra_map = F.create_map(
        *[x for ci, p in intra_p.items() for x in (F.lit(ci), F.lit(p))]
    )
    edges = (
        pairs.join(p_u, "u")
        .join(p_v, "v")
        .withColumn(
            "p",
            F.when(F.col("cu") == F.col("cv"), intra_map[F.col("cu")]).otherwise(
                F.lit(inter_p)
            ),
        )
        .where(_u01(F.lit(seed), "u", "v") < F.col("p"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    return edges, part


def dynamic_events_from_generator(
    edges: DataFrame, batches: int = 5, seed: int = 17
) -> DataFrame:
    """Dynamic* generator adapter: split a generated edge set into
    ``batches`` timestamped EDGE_ADDITION batches separated by TIME_STEP
    markers — the GraphEvent stream shape of ``dynamics/GraphEvent.hpp:21``
    (reference Dynamic generators emit exactly such streams)."""
    spark = edges.sparkSession
    tagged = edges.withColumn(
        "batch", F.pmod(F.xxhash64(F.lit(seed), "src", "dst"), F.lit(batches)).cast("int")
    )
    # EVENT_SCHEMA-compatible global order (streaming/updater.py:26,
    # consumed by replay_by_timestep's seq bounds): batch b's events get
    # seq 2b, its closing TIME_STEP marker 2b+1 — strictly interleaved
    ev = tagged.select(
        (F.col("batch").cast("long") * 2).alias("seq"),
        F.lit("EDGE_ADDITION").alias("type"),
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.lit(1.0).alias("w"),
    )
    steps = spark.range(batches).select(
        (F.col("id") * 2 + 1).alias("seq"),
        F.lit("TIME_STEP").alias("type"),
        F.lit(None).cast("long").alias("u"),
        F.lit(None).cast("long").alias("v"),
        F.lit(None).cast("double").alias("w"),
    )
    return ev.union(steps).orderBy("seq", "type", "u", "v")
