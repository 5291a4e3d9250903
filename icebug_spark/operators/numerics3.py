"""LAMG-style multilevel Laplacian solver (aggregation AMG V-cycles).

Parity target: reference ``numerics/LAMG/Lamg.hpp:32`` (+
``MultiLevelSetup.hpp:28``, ``SolverLamg.hpp:47``). LAMG (Livne–Brandt,
"Lean Algebraic Multigrid") solves L·x = b in near-linear time through a
multilevel hierarchy: coarsen, smooth, restrict the residual, solve
coarse, prolong the correction, smooth again. The distributed
re-expression keeps that load-bearing structure and substitutes the
pointer-chasing pieces:

- aggregation: AFFINITY-GUIDED, ENERGY-CORRECTED seed clusters — the
  reference's test-vector affinity (``computeAffinityMatrix``,
  ``MultiLevelSetup.hpp:604``; TV_NUM=4 random ±1 vectors relaxed by
  homogeneous Jacobi, ``LAMGSettings.hpp:16``) weights a distributed
  mutual-best matching (``operators/matching.py``) that picks the
  aggregate SEEDS, then unmatched nodes attach to their strongest
  eligible seed — multi-node clusters exactly like the reference's
  ``status[i] = s`` greedy, capped by the coarsening work guard
  (nc ≥ 0.467·n, ``LAMGSettings.hpp:30,60``). Every adoption pair
  passes the reference's ENERGY-CORRECTED eligibility test
  (``findBestSeedEnergyCorrected``, ``MultiLevelSetup.hpp:733``:
  max_k Ec_k/E_k ≤ 2.5 over the strong adjacency) — the sequential
  greedy's energy correction re-expressed as one distributed gate
  join (TVs relaxed once, seed-restricted per level exactly like the
  reference's tv[i] = tv[seed]);
- smoother: damped Jacobi (ω = 2/3) — the canonical parallel AMG
  smoother, fused to ONE partial-aggregating shuffle per sweep, where
  LAMG's sequential Gauss-Seidel would cost one job per color class
  per sweep (the chromatic version exists as
  ``numerics2.gauss_seidel_relaxation`` for API parity);
- elimination: LAMG's low-degree elimination phase IS implemented
  (``eliminate_low_degree`` — exact star-mesh Schur complement of an
  independent low-degree set, ``MultiLevelSetup.hpp:278``), as a
  single multi-stage phase before aggregation rather than re-run
  between aggregation levels (documented simplification);
- interpolation: piecewise-constant prolongation over aggregates —
  the SAME caliber-1 interpolation the reference's aggregation levels
  use (``LevelAggregation.hpp``: P is the 0/1 aggregate-membership
  matrix); the reference's "energy correction" lives in WHICH pairs
  may aggregate (the gate above), not in the P coefficients, so with
  the gate in place there is no remaining algorithmic divergence here
  (golden: ``test_numerics3.test_vcycle_rate_matches_reference_
  recurrence`` compares per-cycle residual-reduction rates against a
  numpy transcription of the reference recurrence on a fixture mesh).

Setup is O(levels) matching+contraction passes (each one shuffle);
each V-cycle is O(levels) smoother sweeps + one driver-side exact solve
of the ≤``coarsest``-node level (numpy pinv — the standard AMG coarsest
fallback). The graph must be connected (same contract as
``conjugate_gradient``; per-component solves compose via
``connected_components``).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.matching import local_max_matching
from icebug_spark.operators.numerics import _axpy, _dot, _sym, laplacian_mxv
from icebug_spark.plans.iterate import checkpoint, mirror, pin, pin_observe

# Stage-boundary truncation with stats reset — see ``plans.iterate.pin``
# for the full rationale (the round-4 regression: inherited-stats BigInt
# digit counts compound multiplicatively across pins and OOM the driver
# inside SizeInBytesOnlyStatsPlanVisitor at n=40 by plan shape alone).
# History: this used to round-trip small vectors through the driver
# (toPandas → createDataFrame); the checkpointed path seemed 4-15x
# slower per cycle, but the real cause was stat-less vectors planning
# sort-merge joins — fixed by the ``mirror`` hints at every vector join,
# which keep the whole path distributed.
_pin = pin


def _level(eu: DataFrame):
    """(eu both-direction, deg) for one hierarchy level."""
    deg = checkpoint(
        eu.groupBy(F.col("src").alias("id"))
        .agg(F.sum("weight").alias("deg"))
    )
    return eu, deg


def eliminate_low_degree(
    eu: DataFrame,
    max_stages: int = 4,
    min_elim_fraction: float = 0.01,
    direct_solve_size: int = 128,
):
    """LAMG elimination phase (``MultiLevelSetup.hpp:278`` —
    ``coarseningElimination`` / ``lowDegreeSweep`` /
    ``eliminationOperators``), re-expressed distributed.

    Per stage: pick an INDEPENDENT set F of low-degree nodes (reference:
    Laplacian row nnz ≤ 4 incl. the diagonal ⇒ ≤ 3 neighbors at stage 0,
    ≤ 4 later; independence makes A_FF diagonal), then eliminate F
    EXACTLY via the star-mesh transform: node f's star becomes a clique
    among its neighbors with weights w(c1,f)·w(c2,f)/deg(f) — the Schur
    complement L_CC − L_CF·L_FF⁻¹·L_FC of a Laplacian is again a
    Laplacian, and a degree-≤4 star fans out into ≤ 6 clique edges, so
    the transform is a bounded-fan-out join, never a blow-up. The
    reference's sequential greedy sweep becomes one local-min-hash round
    (f ∈ F iff its hash-rank beats every low-degree neighbor) — a
    deterministic parallel independent set, same guarantee (F
    independent, all-low-degree), shuffle-count O(1) per stage.

    Returns ``(eu_reduced, stages)``; each stage is ``(pq, fset)`` with
    ``pq(f, c, p)`` the elimination operator row P[f,c] = w(f,c)/deg(f)
    and q(f) = 1/deg(f) folded in as ``qv`` — everything solve-time
    needs to restrict b (b'_c = b_c + Σ_f P[f,c]·b_f) and back-
    substitute (x_f = q_f·b_f + Σ_c P[f,c]·x_c). Stages stop when F
    would eliminate under ``min_elim_fraction`` of nodes (reference
    SETUP_ELIMINATION_MIN_ELIM_FRACTION) or the level is already
    direct-solvable."""
    stages = []
    for stage in range(max_stages):
        thr = 3 + (1 if stage > 0 else 0)
        deg = eu.groupBy(F.col("src").alias("id")).agg(
            F.sum("weight").alias("deg"), F.count(F.lit(1)).alias("nnbr")
        )
        # one-job probe: n and the low-degree candidate pool come from a
        # single fused aggregate, and the stage only materializes its
        # checkpoint cascade if the pool could clear the elimination
        # fraction — the common non-engaging case (dense graphs, e.g.
        # hub-heavy relational projections) costs ONE aggregate job.
        # |F| ≤ n_low, so breaking on n_low is conservative-correct.
        n, n_low = deg.agg(
            F.count(F.lit(1)),
            F.sum(F.when(F.col("nnbr") <= thr, 1).otherwise(0)),
        ).collect()[0]
        n_low = n_low or 0
        if n <= direct_solve_size or n_low <= min_elim_fraction * n:
            break
        deg = checkpoint(deg)
        low = deg.where(F.col("nnbr") <= thr).select("id")
        # independence by local hash-rank: f survives iff no low-degree
        # neighbor has a smaller (hash, id) key
        rank = lambda c: F.xxhash64(F.lit(stage), c)  # noqa: E731
        lowe = (
            eu.join(low.withColumnRenamed("id", "src"), "src", "leftsemi")
            .join(low.withColumnRenamed("id", "dst"), "dst", "leftsemi")
        )
        losers = (
            lowe.where(
                (rank(F.col("dst")) < rank(F.col("src")))
                | (
                    (rank(F.col("dst")) == rank(F.col("src")))
                    & (F.col("dst") < F.col("src"))
                )
            )
            .select(F.col("src").alias("id"))
            .distinct()
        )
        fset = checkpoint(low.join(losers, "id", "left_anti"))
        nf = fset.count()
        if nf <= min_elim_fraction * n or nf == 0:
            break
        if nf == n:  # never eliminate every node — keep one C node
            keep = fset.orderBy("id").limit(1)
            fset = checkpoint(fset.join(keep, "id", "left_anti"))
            nf -= 1
            if nf == 0:
                break
        # star rows (f, c, w) — every neighbor of an F node is a C node
        # (F independent), carrying deg(f) for the operators
        star = (
            eu.join(fset.withColumnRenamed("id", "src"), "src", "leftsemi")
            .join(
                deg.select(F.col("id").alias("src"), F.col("deg").alias("fdeg")),
                "src",
            )
            .select(
                F.col("src").alias("f"),
                F.col("dst").alias("c"),
                "weight",
                "fdeg",
            )
        )
        pq = checkpoint(star.select(
            "f",
            "c",
            (F.col("weight") / F.col("fdeg")).alias("p"),
            (F.lit(1.0) / F.col("fdeg")).alias("qv"),
        ))
        stages.append((pq, fset))
        # star-mesh: clique among each f's neighbors + untouched C-C edges
        a = pq.select("f", F.col("c").alias("c1"), F.col("p").alias("p1"))
        b = star.select("f", F.col("c").alias("c2"), F.col("weight").alias("w2"))
        clique = (
            a.join(b, "f")
            .where(F.col("c1") != F.col("c2"))
            .select(
                F.col("c1").alias("src"),
                F.col("c2").alias("dst"),
                (F.col("p1") * F.col("w2")).alias("weight"),
            )
        )
        cc = (
            eu.join(fset.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(fset.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select("src", "dst", "weight")
        )
        eu = checkpoint(
            cc.unionByName(clique)
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
        )
    return eu, stages


def elim_restrict(b: DataFrame, pq: DataFrame, fset: DataFrame, n: int) -> DataFrame:
    """b'_c = b_c + Σ_f P[f,c]·b_f (exact restriction through one
    elimination stage). Returns (b_reduced, b_f) — the caller keeps b_f
    for back-substitution."""
    bf = checkpoint(b.join(fset, "id", "leftsemi"))
    contrib = (
        pq.join(mirror(bf.withColumnRenamed("id", "f"), n), "f")
        .groupBy(F.col("c").alias("id"))
        .agg(F.sum(F.col("p") * F.col("x")).alias("x"))
    )
    bc = b.join(fset, "id", "left_anti")
    reduced = checkpoint(
        bc.unionByName(contrib)
        .groupBy("id")
        .agg(F.sum("x").alias("x"))
    )
    return reduced, bf


def elim_prolong(
    xc: DataFrame, bf: DataFrame, pq: DataFrame, n: int
) -> DataFrame:
    """x_f = q_f·b_f + Σ_c P[f,c]·x_c, then x = x_c ∪ x_f (exact
    back-substitution through one elimination stage)."""
    px = (
        pq.join(
            mirror(xc.withColumnRenamed("id", "c").withColumnRenamed("x", "xc"), n),
            "c",
        )
        .groupBy(F.col("f").alias("id"))
        .agg(F.sum(F.col("p") * F.col("xc")).alias("px"))
    )
    qb = (
        pq.select("f", "qv").distinct()
        .join(mirror(bf.withColumnRenamed("id", "f"), n), "f")
        .select(F.col("f").alias("id"), (F.col("qv") * F.col("x")).alias("qb"))
    )
    xf = qb.join(px, "id", "left").select(
        "id", (F.col("qb") + F.coalesce("px", F.lit(0.0))).alias("x")
    )
    return xc.unionByName(xf)


def _jacobi(
    eu: DataFrame, deg: DataFrame, b: DataFrame, x: DataFrame | None,
    sweeps: int, n: int, omega: float = 2.0 / 3.0,
) -> DataFrame:
    """Damped Jacobi sweeps x ← (1−ω)·x + ω·D⁻¹·b + ω·D⁻¹·A·x (the same
    update as x + ω·D⁻¹·(b − L·x), distributed smarter): because D⁻¹ is
    keyed by the groupBy key, every contribution row pre-scales by
    ω/deg(id) and the WHOLE sweep collapses into ONE partial-aggregating
    shuffle — three contribution row-sets (carry-over, loop-invariant
    ω·D⁻¹·b, broadcast-joined neighbor term) union into a single
    groupBy-sum. Was 3 shuffles/sweep (MxV agg + two axpy aggs); at
    cluster scale that is 3× fewer exchanges of the n-sized vector per
    sweep. Lazy — checkpointed only at the V-cycle/PCG level. ``n``
    upper-bounds the vector size for the mirror() hints."""
    degm = mirror(deg, n)
    bd = mirror(b, n).join(degm, "id").select(
        "id", (F.lit(omega) * F.col("x") / F.col("deg")).alias("x")
    )
    if x is None:  # zero initial guess: first sweep IS the b half-step
        x = bd
        sweeps -= 1
    for _s in range(sweeps):
        keep = x.select("id", (F.lit(1.0 - omega) * F.col("x")).alias("x"))
        nbr = (
            eu.join(mirror(x, n).withColumnRenamed("id", "dst"), "dst")
            .join(degm.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("src").alias("id"),
                (
                    F.lit(omega) * F.col("weight") * F.col("x") / F.col("deg")
                ).alias("x"),
            )
        )
        x = (
            keep.unionByName(bd)
            .unionByName(nbr)
            .groupBy("id")
            .agg(F.sum("x").alias("x"))
        )
    return x


def _tv_relax(
    eu: DataFrame, deg: DataFrame, n: int, k: int = 4, sweeps: int = 3,
    seed: int = 17, omega: float = 2.0 / 3.0,
) -> DataFrame:
    """k test vectors for affinity-guided aggregation (reference
    ``MultiLevelSetup.hpp`` TVs): seed deterministic ±1 vectors by node
    hash and relax with ``sweeps`` homogeneous damped-Jacobi sweeps
    (b = 0), so each vector approximates the algebraically smooth error
    the coarse grid must represent. All k vectors ride ONE frame
    (id, t0..t{k-1}) — one fused partial-aggregating shuffle per sweep,
    the same single-exchange shape as ``_jacobi``."""
    cols = [f"t{i}" for i in range(k)]
    degm = mirror(deg, n)
    tv = deg.select(
        "id",
        *[
            F.when(
                F.pmod(F.xxhash64("id", F.lit(seed + i)), F.lit(2)) == 0,
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
            .alias(c)
            for i, c in enumerate(cols)
        ],
    )
    for _s in range(sweeps):
        keep = tv.select(
            "id", *[(F.lit(1.0 - omega) * F.col(c)).alias(c) for c in cols]
        )
        nbr = (
            eu.join(mirror(tv, n).withColumnRenamed("id", "dst"), "dst")
            .join(degm.withColumnRenamed("id", "src"), "src")
            .select(
                F.col("src").alias("id"),
                *[
                    (
                        F.lit(omega) * F.col("weight") * F.col(c) / F.col("deg")
                    ).alias(c)
                    for c in cols
                ],
            )
        )
        tv = (
            keep.unionByName(nbr)
            .groupBy("id")
            .agg(*[F.sum(c).alias(c) for c in cols])
        )
    return checkpoint(tv)


def _node_energy_stats(eu: DataFrame, tv: DataFrame, n: int) -> DataFrame:
    """Per-node energy-correction statistics over the STRONG adjacency
    (reference ``computeStrongAdjacencyMatrix``, ``MultiLevelSetup.hpp:561``:
    keep w(i,j) ≥ 0.1·min(maxw_i, maxw_j), the
    SETUP_AGGREGATION_WEAK_EDGE_THRESHOLD): for each test vector k,
    r_k = Σ_v w·t_k[v], q_k = Σ_v ½·w·t_k[v]², d = full weighted degree
    (the Laplacian diagonal), and E_k = (½d·y − r_k)·y + q_k at the
    locally-optimal y = r_k/d — node u's minimal local energy
    (``findBestSeedEnergyCorrected``, ``MultiLevelSetup.hpp:733``).
    One groupBy over the strong edges; everything else is column math."""
    cols = [c for c in tv.columns if c != "id"]
    wm = eu.groupBy(F.col("src").alias("id")).agg(F.max("weight").alias("wm"))
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("d"))
    strong = (
        eu.join(
            mirror(wm, n).select(F.col("id").alias("src"), F.col("wm").alias("ws")),
            "src",
        )
        .join(
            mirror(wm, n).select(F.col("id").alias("dst"), F.col("wm").alias("wd")),
            "dst",
        )
        .where(F.col("weight") >= F.lit(0.1) * F.least("ws", "wd"))
    )
    tvd = mirror(tv, n).withColumnRenamed("id", "dst")
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col("weight") * F.col(c)).alias(f"r{i}"))
        aggs.append(
            F.sum(F.lit(0.5) * F.col("weight") * F.col(c) * F.col(c)).alias(f"q{i}")
        )
    rq = strong.join(tvd, "dst").groupBy(F.col("src").alias("id")).agg(*aggs)
    st = deg.join(rq, "id", "left")
    proj = [F.col("id"), F.col("d")]
    for i in range(len(cols)):
        r = F.coalesce(F.col(f"r{i}"), F.lit(0.0))
        q = F.coalesce(F.col(f"q{i}"), F.lit(0.0))
        y = r / F.col("d")
        proj += [
            r.alias(f"r{i}"),
            q.alias(f"q{i}"),
            ((F.lit(0.5) * F.col("d") * y - r) * y + q).alias(f"e{i}"),
        ]
    return st.select(*proj)


def _energy_gate(
    cand: DataFrame, stats: DataFrame, tv: DataFrame, n: int,
    ratio_max: float = 2.5,
) -> DataFrame:
    """The reference's energy-corrected seed eligibility
    (``findBestSeedEnergyCorrected``, ``MultiLevelSetup.hpp:733``):
    ``cand`` rows are adoption-direction pairs (node, seed, weight) —
    node would copy seed's test-vector values (tv[i] = tv[s]). Keep a
    pair iff max_k Ec_k/(E_k+1e-15) ≤ 2.5, where
    Ec_k = (½·d(node)·x_k[seed] − r_k(node))·x_k[seed] + q_k(node) is
    node's energy when clamped to seed's value. One join against the
    per-node stats + one against the seed tv rows — no shuffle beyond
    the two mirror hints."""
    cols = [c for c in tv.columns if c != "id"]
    stn = mirror(stats, n).withColumnRenamed("id", "node")
    tvs = mirror(tv, n).select(
        F.col("id").alias("seed"),
        *[F.col(c).alias(f"x{i}") for i, c in enumerate(cols)],
    )
    j = cand.join(stn, "node").join(tvs, "seed")
    mus = [
        (
            (F.lit(0.5) * F.col("d") * F.col(f"x{i}") - F.col(f"r{i}"))
            * F.col(f"x{i}")
            + F.col(f"q{i}")
        )
        / (F.col(f"e{i}") + F.lit(1e-15))
        for i in range(len(cols))
    ]
    return j.where(F.greatest(*mus) <= F.lit(ratio_max)).select(*cand.columns)


def _affinity_edges(eu: DataFrame, tv: DataFrame, n: int) -> DataFrame:
    """Per-edge TV affinity (reference
    ``MultiLevelSetup::computeAffinityMatrix``, ``MultiLevelSetup.hpp:604``):
    aff(i,j) = (Σ_k t_k[i]·t_k[j])² / (Σ_k t_k[i]² · Σ_k t_k[j]²) — high
    when the smooth error is proportional across the edge, i.e. the two
    nodes belong in one aggregate. Two broadcast/mirror joins, no
    shuffle. Returned as (src, dst, weight) for the matching."""
    cols = [c for c in tv.columns if c != "id"]
    k = len(cols)
    s = tv.select(
        F.col("id").alias("src"), *[F.col(c).alias(f"s{i}") for i, c in enumerate(cols)]
    )
    d = tv.select(
        F.col("id").alias("dst"), *[F.col(c).alias(f"d{i}") for i, c in enumerate(cols)]
    )
    ij = sum(F.col(f"s{i}") * F.col(f"d{i}") for i in range(k))
    ns = sum(F.col(f"s{i}") * F.col(f"s{i}") for i in range(k))
    nd = sum(F.col(f"d{i}") * F.col(f"d{i}") for i in range(k))
    return (
        eu.join(mirror(s, n), "src")
        .join(mirror(d, n), "dst")
        .select(
            "src",
            "dst",
            ((ij * ij) / (ns * nd + F.lit(1e-300))).alias("weight"),
        )
    )


def lamg_hierarchy(
    edges_weighted_undirected: DataFrame,
    coarsest: int = 128,
    max_levels: int = 12,
    elim_stages: int = 4,
) -> dict:
    """Build the multilevel hierarchy. Returns
    ``{"elim": [(pq, fset), ...], "reduced_eu": eu,
    "levels": [(eu, deg, mapping), ...], "coarse": (ids, L)}``
    where ``elim`` holds the exact low-degree elimination stages
    (reference ``MultiLevelSetup.hpp:247`` runs ELIMINATION before each
    AGGREGATION; here one multi-stage elimination phase runs up front —
    documented simplification: the re-elimination between aggregation
    levels buys little once the low-degree fringe is gone), ``mapping``
    maps a level's node ids to the NEXT level's aggregate roots and
    ``coarse`` is the driver-side final Laplacian."""
    eu = checkpoint(_sym(edges_weighted_undirected))
    eu, elim = eliminate_low_degree(
        eu, max_stages=elim_stages, direct_solve_size=coarsest
    )
    reduced_eu = eu
    levels = []
    prev_n = None
    tv = None  # test vectors, relaxed once then root-restricted per level
    for _l in range(max_levels):
        n = eu.select("src").distinct().count()
        if n <= coarsest:
            break
        # coarsening-stall guard (reference MultiLevelSetup monitors the
        # coarsening fraction the same way): hub-star topologies lose one
        # matched pair per level, so grinding more matching+contraction
        # levels at <10% reduction each is pure setup cost AND deepens
        # every later V-cycle — stop and let the size-guarded direct
        # solve below take the remainder (or raise, identically to the
        # exhausted-max_levels path).
        if prev_n is not None and n > 0.9 * prev_n:
            break
        prev_n = n
        # affinity-guided aggregation (reference parity: the seed-greedy
        # of ``MultiLevelSetup::aggregationStage`` picks aggregates by TV
        # affinity, not raw edge weight): relax the test vectors ONCE on
        # the finest aggregation level, restrict them to the aggregate
        # roots after each level (the reference's tv[i] = tv[seed]), and
        # weight THIS level's matching by per-edge affinity. Contraction
        # below still sums TRUE edge weights — affinity only steers WHICH
        # nodes aggregate.
        if tv is None:
            deg_f = eu.groupBy(F.col("src").alias("id")).agg(
                F.sum("weight").alias("deg")
            )
            tv = _tv_relax(eu, deg_f, n)
        aff = _affinity_edges(eu, tv, n)
        # energy-corrected eligibility (findBestSeedEnergyCorrected,
        # MultiLevelSetup.hpp:733): a node may only join an aggregate
        # whose seed value keeps its local energy within 2.5x of
        # optimal. Gate every adoption-direction pair once; the gated
        # set feeds BOTH the pair matching and the attach pass below.
        stats = _node_energy_stats(eu, tv, n)
        from icebug_spark.plans.iterate import checkpoint_observe as _cpo

        gated, _gm = _cpo(
            _energy_gate(
                aff.select(
                    F.col("src").alias("node"), F.col("dst").alias("seed"), "weight"
                ),
                stats, tv, n,
            ),
            F.count(F.lit(1)).alias("n"),
        )
        if int(_gm["n"] or 0) == 0:
            # pathological TVs can reject everything — fall back to the
            # ungated affinity (the reference's bins loop would likewise
            # leave these nodes undecided and retry next level)
            gated = checkpoint(aff.select(
                F.col("src").alias("node"), F.col("dst").alias("seed"), "weight"
            ))
        # pair matching on gated pairs in the adoption direction (the
        # aggregate root below is the SMALLER endpoint, so gate
        # node=greater adopting seed=lesser). tie-jitter (symmetric per
        # undirected edge): on equal affinities local-max's
        # deterministic tie-break forms a sequential chain (O(n) rounds
        # on a path); a multiplicative hash jitter restores the O(log n)
        # expected round count, and ANY mutual-best pairing is a valid
        # aggregation (stronger affinities still dominate — the jitter
        # is 1e-6-relative).
        jit = gated.where(F.col("node") > F.col("seed")).select(
            F.col("node").alias("src"),
            F.col("seed").alias("dst"),
            (
                F.col("weight")
                * (
                    F.lit(1.0)
                    + F.lit(1e-6)
                    * (
                        F.pmod(
                            F.xxhash64(F.least("node", "seed"), F.greatest("node", "seed")),
                            F.lit(1000),
                        )
                        / F.lit(1000.0)
                    )
                )
            ).alias("weight"),
        )
        # bounded rounds: aggregation does NOT need a MAXIMAL matching —
        # any set of mutual-best pairs is a valid aggregation seed set
        # (unmatched nodes attach below or stay singletons), and the
        # first 3 rounds capture the bulk of the pairs at a third of the
        # driver round-trips; the stall guard above still catches
        # pathological topologies.
        m = local_max_matching(jit, max_rounds=3)
        # aggregate root = the smaller endpoint = the SEED (the
        # reference's status[s] = s); matched non-roots adopt it.
        nodes = eu.select(F.col("src").alias("id")).distinct()
        roots = m.select(F.col("v").alias("id"), F.col("u").alias("agg"))
        # attach pass (reference aggregationStage: aggregates are
        # multi-node seed CLUSTERS — many undecided i may set
        # status[i] = s for one seed s, which is what coarsens hub/star
        # topologies where a matching can only pair the hub once):
        # every unmatched node attaches to its max-affinity
        # energy-eligible SEED (targets are seeds only — the reference
        # requires status[v] == v). The reference's coarsening work
        # guard (nc ≤ n·SETUP_COARSENING_WORK_GUARD/SETUP_CYCLE_INDEX =
        # 0.467·n, LAMGSettings.hpp:30,60) caps how many attach: rank
        # by affinity and keep the strongest — the same
        # decreasing-strength order as the reference's bins loop.
        n_pairs = m.count()
        n_attach_max = max(0, (n - n_pairs) - int(0.467 * n))
        if n_attach_max > 0 and n_pairs > 0:
            matched_ids = (
                m.select(F.col("u").alias("id"))
                .union(m.select(F.col("v").alias("id")))
                .distinct()
            )
            seeds = m.select(F.col("u").alias("seed")).distinct()
            attach = (
                gated.join(seeds, "seed", "leftsemi")
                .join(
                    matched_ids.withColumnRenamed("id", "node"), "node", "left_anti"
                )
                .groupBy("node")
                .agg(F.max(F.struct("weight", "seed")).alias("s"))
                .orderBy(F.col("s.weight").desc(), F.col("node"))
                .limit(n_attach_max)
                .select(F.col("node").alias("id"), F.col("s.seed").alias("agg"))
            )
            roots = roots.unionByName(attach)
        mapping = checkpoint(
            nodes.join(roots, "id", "left")
            .select("id", F.coalesce("agg", F.col("id")).alias("agg"))
        )
        from icebug_spark.plans.iterate import checkpoint_observe as _cpo

        coarse, _cm = _cpo(
            eu.join(mapping.withColumnRenamed("id", "src"), "src")
            .withColumnRenamed("agg", "csrc")
            .join(mapping.withColumnRenamed("id", "dst"), "dst")
            .withColumnRenamed("agg", "cdst")
            .where(F.col("csrc") != F.col("cdst"))  # internal edges vanish in L
            .groupBy(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
            .agg(F.sum("weight").alias("weight")),
            F.count(F.lit(1)).alias("n"),
        )
        if int(_cm["n"] or 0) == 0:
            break
        eu_l, deg_l = _level(eu)
        levels.append((eu_l, deg_l, mapping))
        # restrict the test vectors to the aggregate roots (reference:
        # tv[i] = tv[seed] — the coarse node inherits its root's values),
        # so deeper levels reuse the one relaxation. Lazy: a semi-join
        # over the PINNED tv frame rides the next level's matching job.
        tv = tv.join(
            mapping.select(F.col("agg").alias("id")).distinct(), "id", "leftsemi"
        )
        eu = coarse
    # coarsest: exact driver-side pseudo-inverse solve — size-guarded:
    # coarsening can stall on hub topologies (a star loses one pair per
    # matching level), and collecting + densifying an n-node Laplacian
    # at large n would OOM the driver rather than degrade.
    k_bound = eu.select("src").distinct().count()
    if k_bound > max(4 * coarsest, 4096):
        raise ValueError(
            f"lamg_hierarchy coarsening stalled at {k_bound} nodes "
            f"(coarsest={coarsest}, max_levels={max_levels}); raise "
            "max_levels, or use conjugate_gradient (fully distributed) "
            "for this topology"
        )
    rows = eu.collect()
    ids = sorted({int(r["src"]) for r in rows})
    idx = {v: i for i, v in enumerate(ids)}
    k = len(ids)
    L = np.zeros((k, k))
    for r in rows:
        i, j, w = idx[int(r["src"])], idx[int(r["dst"])], float(r["weight"])
        L[i, i] += w
        L[i, j] -= w
    return {
        "elim": elim,
        "reduced_eu": reduced_eu,
        "levels": levels,
        "coarse": (ids, L),
    }


def _coarse_solve(hier: dict, b: DataFrame) -> DataFrame:
    ids, L = hier["coarse"]
    idx = {v: i for i, v in enumerate(ids)}
    vec = np.zeros(len(ids))
    for r in b.collect():
        if int(r["id"]) in idx:
            vec[idx[int(r["id"])]] = float(r["x"])
    x = np.linalg.pinv(L) @ vec
    spark = b.sparkSession
    return spark.createDataFrame(
        [(int(v), float(x[i])) for i, v in enumerate(ids)], "id BIGINT, x DOUBLE"
    )


def _vcycle(hier: dict, lvl: int, b: DataFrame, sweeps: int, n: int) -> DataFrame:
    """One V-cycle level; the result is PINNED. Stage boundaries are
    pinned (pre-smooth, restricted residual, returned post-smooth): a
    solver vector feeds the next stage 2-3 times (residual, correction,
    warm start), and Spark's analyzer CLONES duplicated subtrees for
    expr-id dedup — so an unpinned composition makes both plan size and
    Catalyst's stats estimation grow exponentially with stage depth
    (observed: BigInt sizeInBytes products OOMing the driver during
    planning). Pinning at the RETURN (instead of at the correction and
    again in the caller) keeps the cross-level recursion boundary pinned
    with one fewer job per level: the correction term is a lazy join
    against the pinned coarse result, and the post-smooth references it
    a bounded ≤4 subtree copies (exchange-reused), never compounding
    across levels."""
    if lvl == len(hier["levels"]):
        return _coarse_solve(hier, b)
    eu, deg, mapping = hier["levels"][lvl]
    # pre-smooth from zero initial guess
    x = _pin(_jacobi(eu, deg, b, None, sweeps, n))
    # residual r = b − L·x restricted by aggregate sum (Pᵀ r) in the SAME
    # shuffle: every contribution row (b, −deg·x, +w·x_nb) keys to its
    # aggregate root via a broadcast/mirror join BEFORE the single
    # groupBy — one partial-aggregating exchange for residual+restrict
    # (was three: MxV agg, axpy agg, restrict agg).
    xm = mirror(x, n)
    rb = b.select("id", "x")
    rdx = deg.join(xm, "id").select(
        "id", (-F.col("deg") * F.col("x")).alias("x")
    )
    rax = eu.join(xm.withColumnRenamed("id", "dst"), "dst").select(
        F.col("src").alias("id"), (F.col("weight") * F.col("x")).alias("x")
    )
    rc = (
        rb.unionByName(rdx)
        .unionByName(rax)
        .join(mirror(mapping, n), "id")
        .groupBy(F.col("agg").alias("id"))
        .agg(F.sum("x").alias("x"))
    )
    # the pin guards rc against multi-reference plan growth at the NEXT
    # level — but when the next level is the driver coarse solve, rc is
    # consumed exactly once by an immediate collect, so the pin would be
    # a pure extra job
    if lvl + 1 < len(hier["levels"]):
        rc = _pin(rc)
    xc = _vcycle(hier, lvl + 1, rc, sweeps, n)  # pinned by the recursion
    # prolong the correction (piecewise constant over aggregates) — lazy:
    # xc is pinned, so the corrected iterate is one union-agg above pins
    corr = mapping.join(
        mirror(xc.withColumnRenamed("id", "agg").withColumnRenamed("x", "c"), n),
        "agg",
    ).select("id", F.col("c").alias("x"))
    x = _axpy(1.0, corr, x)
    # post-smooth, warm-started at the corrected x; pin the return
    return _pin(_jacobi(eu, deg, b, x, sweeps, n))


def lamg_solve(
    edges_weighted_undirected: DataFrame,
    b: DataFrame,
    tol: float = 1e-8,
    max_cycles: int = 25,
    sweeps: int = 1,
    coarsest: int = 128,
    max_levels: int = 12,
    elim_stages: int = 4,
    hierarchy: dict | None = None,
) -> DataFrame:
    """Solve L·x = b by iterated V-cycles (reference ``Lamg.hpp:32``
    run surface). ``b``: (id, x), must sum to 0 (L is singular on the
    constant vector); the returned x is pinned to mean zero. Pass a
    prebuilt ``hierarchy`` to amortize setup over many right-hand sides
    (the reference's setup/solve split)."""
    hier = hierarchy or lamg_hierarchy(
        edges_weighted_undirected,
        coarsest=coarsest,
        max_levels=max_levels,
        elim_stages=elim_stages,
    )
    b = checkpoint(b.select("id", "x"))
    n_rows = b.count()
    # exact low-degree elimination (restrict b through each stage; the
    # per-stage b_f slices are kept for back-substitution after PCG)
    elim = hier.get("elim", [])
    bfs: list[DataFrame] = []
    for pq, fset in elim:
        b, bf = elim_restrict(b, pq, fset, n_rows)
        bfs.append(bf)
    if hier["levels"]:
        eu, deg, _ = hier["levels"][0]
    else:
        eu = hier.get("reduced_eu")
        if eu is None:
            eu = checkpoint(_sym(edges_weighted_undirected))
        deg = checkpoint(eu.groupBy(F.col("src").alias("id")).agg(
            F.sum("weight").alias("deg")
        ))
    b_norm = math.sqrt(max(_dot(b, b, n_rows), 0.0)) or 1.0

    def _precond(res: DataFrame) -> DataFrame:
        """One symmetric V-cycle, projected to mean zero (L's nullspace).
        The cycle returns pinned, so the projection is a LAZY broadcast
        crossJoin of the 1-row mean (no driver action — it rides whatever
        job consumes z next, and the agg reads the pinned RDD, not the
        cycle)."""
        z = _vcycle(hier, 0, res, sweeps, n_rows)
        mz = z.agg(F.avg("x").alias("mz"))
        return z.crossJoin(F.broadcast(mz)).select(
            "id", (F.col("x") - F.coalesce("mz", F.lit(0.0))).alias("x")
        )

    # PCG with the V-cycle as preconditioner — LAMG's own acceleration
    # strategy (SolverLamg.hpp K-cycle + iterate recombination); the
    # symmetric V(sweeps,sweeps) cycle is an SPD operator on the
    # mean-zero subspace, so textbook PCG applies. The three PCG vectors
    # ride in ONE state frame (id, x, r, p): one checkpoint and one fused
    # scalar aggregate per iteration instead of three of each — the
    # driver loop is job-submission-bound, and fewer live checkpoint RDDs
    # keeps long solves from accreting executor-side state.
    z0 = _precond(b)
    state = (
        b.withColumnRenamed("x", "r")
        .join(z0.withColumnRenamed("x", "p"), "id", "full_outer")
        .select(
            "id",
            F.lit(0.0).alias("x"),
            F.coalesce("r", F.lit(0.0)).alias("r"),
            F.coalesce("p", F.lit(0.0)).alias("p"),
        )
    )
    state = _pin(state)
    rz = (
        state.agg(F.sum(F.col("r") * F.col("p"))).collect()[0][0] or 0.0
    )
    for _c in range(max_cycles):
        lp = laplacian_mxv(
            eu, deg, state.select("id", F.col("p").alias("x")), n_rows
        ).withColumnRenamed("x", "lp")
        # ONE fused aggregate yields α AND the post-update residual norm
        # algebraically: r⁺ = r − α·Lp ⇒ ‖r⁺‖² = r·r − 2α·r·Lp + α²·Lp·Lp
        # — the convergence check costs no second job. The aggregate
        # rides the join's pinning action (pin_observe), so the MxV join
        # materializes ONCE per cycle (it used to run twice: once under
        # the aggregate, once under the pin) and the α update is a lazy
        # projection over the pinned frame.
        st, m = pin_observe(
            state.join(mirror(lp, n_rows), "id", "left").na.fill({"lp": 0.0}),
            F.sum(F.col("p") * F.col("lp")).alias("plp"),
            F.sum(F.col("r") * F.col("lp")).alias("rlp"),
            F.sum(F.col("lp") * F.col("lp")).alias("lplp"),
            F.sum(F.col("r") * F.col("r")).alias("rr0"),
        )
        plp = m["plp"]
        if plp is None or abs(plp) < 1e-300:
            break
        alpha = rz / plp
        rr = (
            (m["rr0"] or 0.0)
            - 2.0 * alpha * (m["rlp"] or 0.0)
            + alpha * alpha * (m["lplp"] or 0.0)
        )
        st = st.select(
            "id",
            (F.col("x") + F.lit(alpha) * F.col("p")).alias("x"),
            (F.col("r") - F.lit(alpha) * F.col("lp")).alias("r"),
            "p",
        )
        if math.sqrt(max(rr, 0.0)) / b_norm < tol:
            state = st
            break
        z = _precond(st.select("id", F.col("r").alias("x")))
        # rz⁺ rides the z-join's pinning action; the β update is lazy
        st2, m2 = pin_observe(
            st.join(
                mirror(z.withColumnRenamed("x", "z"), n_rows), "id", "left"
            ).na.fill({"z": 0.0}),
            F.sum(F.col("r") * F.col("z")).alias("rz"),
        )
        rz_new = m2["rz"] or 0.0
        beta = rz_new / rz if rz else 0.0
        rz = rz_new
        state = st2.select(
            "id", "x", "r", (F.col("z") + F.lit(beta) * F.col("p")).alias("p")
        )
    x = state.select("id", "x")
    # exact back-substitution through the elimination stages, in reverse
    for (pq, _fset), bf in reversed(list(zip(elim, bfs))):
        x = _pin(elim_prolong(x, bf, pq, n_rows))
    # mean-zero pin as a lazy broadcast crossJoin — rides the caller's
    # terminal action instead of costing a driver collect here (x sits
    # above a pin, so the agg does not re-execute the solve)
    mx = x.agg(F.avg("x").alias("mx"))
    return x.crossJoin(F.broadcast(mx)).select(
        "id", (F.col("x") - F.coalesce("mx", F.lit(0.0))).alias("x")
    )
