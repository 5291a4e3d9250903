"""Distributed numerics: conjugate gradient on the graph Laplacian and the
electrical family built on it.

Parity targets (reference):
- ConjugateGradient           ``numerics/ConjugateGradient.hpp:25``
- CommuteTimeDistance         ``distance/CommuteTimeDistance.hpp:24`` (303 LoC)
- SpanningEdgeCentrality      ``centrality/SpanningEdgeCentrality.hpp:23``
- ApproxElectricalCloseness   ``centrality/ApproxElectricalCloseness.hpp:28``
- LAMG multigrid (``numerics/LAMG/Lamg.hpp:32``) is explicitly out of
  scope (SURVEY §7); CG over distributed MxV replaces it. CG iteration
  count on a Laplacian is O(sqrt(kappa)) — acceptable for the moderate
  per-query solves these centralities need; at 100 TB you precondition
  (Jacobi = divide by degree, included) and cap iterations.

Vectors are DataFrames ``(id, x)``; each CG step is one MxV (join edges →
groupBy) plus two scalar reductions — all shuffle-partitioned by node id,
no driver-side matrix ever materializes.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint, mirror, pin, pin_observe


def _sym(edges_undirected: DataFrame) -> DataFrame:
    e = edges_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    return e.select("src", "dst", "weight").union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )


def laplacian_mxv(
    eu: DataFrame, deg: DataFrame, x: DataFrame, rows_bound: int | None = None
) -> DataFrame:
    """y = L·x = D·x − A·x, distributed: one join+groupBy (A·x) plus a
    join with the degree vector. ``rows_bound`` (an upper bound on the
    vector's row count, known free to every solver caller) engages the
    size-adaptive ``mirror`` hint: the n-sized vector broadcasts under
    the vertex cap so the m-sized edge table never moves — without it a
    checkpointed x has no stats and Catalyst sort-merges, reshuffling eu
    every solver iteration."""
    xm = x if rows_bound is None else mirror(x, rows_bound)
    # ONE partial-aggregating shuffle: the D·x and −A·x contribution rows
    # union before a single groupBy-sum (both feeder joins carry the
    # broadcast/shuffle-hash mirror hint, so neither moves eu or deg).
    # Missing-x ids are zero-extended — for the full-support vectors every
    # solver maintains, identical to the old join form, minus one shuffle
    # and the stat-less post-agg join it planned.
    dx = deg.join(xm, "id").select(
        "id", (F.col("deg") * F.col("x")).alias("x")
    )
    ax = eu.join(xm.withColumnRenamed("id", "dst"), "dst").select(
        F.col("src").alias("id"), (-F.col("weight") * F.col("x")).alias("x")
    )
    return dx.unionByName(ax).groupBy("id").agg(F.sum("x").alias("x"))


def _dot(a: DataFrame, b: DataFrame, rows_bound: int | None = None) -> float:
    bm = b if rows_bound is None else mirror(b, rows_bound)
    return (
        a.join(bm.withColumnRenamed("x", "y"), "id")
        .agg(F.sum(F.col("x") * F.col("y")))
        .collect()[0][0]
        or 0.0
    )


def _axpy(alpha: float, x: DataFrame, y: DataFrame) -> DataFrame:
    """y + alpha·x (missing ids = 0), as UNION ALL + groupBy-sum: one
    partial-aggregating shuffle and no join. The old full-outer join
    could never broadcast (Spark has no broadcast full-outer), so inside
    solver loops over stat-less checkpointed vectors it planned a
    sort-merge pair — two exchanges plus sorts — per invocation."""
    return (
        x.select("id", (F.lit(alpha) * F.col("x")).alias("x"))
        .unionByName(y.select("id", "x"))
        .groupBy("id")
        .agg(F.sum("x").alias("x"))
    )


def conjugate_gradient(
    edges_undirected: DataFrame,
    b: DataFrame,
    max_iter: int = 50,
    tol: float = 1e-6,
) -> DataFrame:
    """Solve L·x = b on the graph Laplacian with Jacobi-preconditioned CG
    (reference ``numerics/ConjugateGradient.hpp:25``). ``b`` must sum to 0
    (L is singular; solution pinned to mean-zero). Returns (id, x).

    The four CG vectors ride ONE state frame (id, deg, x, r, p), and the
    iteration costs exactly TWO driver actions: one fused scalar
    aggregate (α's p·Lp plus the post-update ‖r⁺‖² and Jacobi-
    preconditioned r⁺·z⁺, both derived algebraically from pre-update
    sums: r⁺ = r − α·Lp distributes over Σ·², and z = r/deg makes
    r·z = Σ r²/deg) and one pinning checkpoint of the updated state —
    the search-direction update p⁺ = r⁺/deg + β·p folds into the same
    projection. Was ~7 actions/iteration (MxV pin, three dot products,
    three vector pins); on a cluster each action is a full barrier, so
    this is the difference between 2 and 7 synchronization rounds per
    CG step at any scale."""
    eu = checkpoint(_sym(edges_undirected))
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("deg"))
    deg = checkpoint(deg)
    # exact vector size, free off the checkpointed degree table — sizes
    # the mirror() hints so the n-sized vectors broadcast under the
    # vertex cap (shuffle-hash past it) instead of stat-less sort-merges
    n = deg.count()

    # densify b over the FULL vertex set (missing ids = 0): every state
    # update keys on id, so a sparse b (effective_resistance passes just
    # 2 rows) would silently restrict the whole iteration to b's support
    # — CG then "converges" on the principal submatrix and returns
    # x = alpha·D⁻¹b, not L⁺b. x₀ = 0, r₀ = b, p₀ = z₀ = D⁻¹·r₀.
    bm = mirror(b.select("id", F.col("x").alias("bx")), n)
    # ‖b‖² for the relative stopping test (r₀ = b) rides the initial pin
    state, m0 = pin_observe(
        deg.join(bm, "id", "left").select(
            "id",
            "deg",
            F.lit(0.0).alias("x"),
            F.coalesce("bx", F.lit(0.0)).alias("r"),
            (F.coalesce("bx", F.lit(0.0)) / F.col("deg")).alias("p"),
        ),
        F.sum(F.col("r") * F.col("r")).alias("bb"),
    )
    b_norm = math.sqrt(max(m0["bb"] or 0.0, 0.0)) or 1.0

    for _ in range(max_iter):
        lp = laplacian_mxv(
            eu, deg, state.select("id", F.col("p").alias("x")), n
        ).withColumnRenamed("x", "lp")
        # every scalar the step needs, MEASURED from the materialized
        # state in one aggregate: rr0/rz0 are the exact ‖r‖² and r·z of
        # the CURRENT iterate (z = r/deg), so the stopping test and α
        # never accumulate recursion drift — a recursively-updated rz
        # was observed to diverge after true convergence (the derived
        # residual stalls above a tight tol on FP noise while β keeps
        # amplifying it). Only β's numerator is derived algebraically
        # (r⁺ = r − α·Lp distributes over the pre-update sums), and the
        # next iteration re-measures it fresh, so that error is
        # one-step, not compounding.
        # The aggregate rides the (joined) state's pinning action — ONE
        # Spark job per CG step; the α/β state update is then a LAZY
        # projection over the pinned frame, so the next step's MxV is
        # the next action (was: separate aggregate job + pin job).
        st, m = pin_observe(
            state.join(mirror(lp, n), "id", "left").na.fill({"lp": 0.0}),
            F.sum(F.col("p") * F.col("lp")).alias("plp"),
            F.sum(F.col("r") * F.col("r")).alias("rr0"),
            F.sum(F.col("r") * F.col("r") / F.col("deg")).alias("rz0"),
            F.sum(F.col("r") * F.col("lp") / F.col("deg")).alias("rdlp"),
            F.sum(F.col("lp") * F.col("lp") / F.col("deg")).alias("lpdlp"),
        )
        plp, rr0, rz0 = m["plp"], m["rr0"], m["rz0"]
        if math.sqrt(max(rr0 or 0.0, 0.0)) / b_norm < tol:
            state = st
            break
        if plp is None or abs(plp) < 1e-30:
            state = st
            break
        rz0 = rz0 or 0.0
        alpha = rz0 / plp
        rz_new = (
            rz0
            - 2.0 * alpha * (m["rdlp"] or 0.0)
            + alpha * alpha * (m["lpdlp"] or 0.0)
        )
        beta = (rz_new / rz0) if rz0 else 0.0
        rnew = F.col("r") - F.lit(alpha) * F.col("lp")
        state = st.select(
            "id",
            "deg",
            (F.col("x") + F.lit(alpha) * F.col("p")).alias("x"),
            rnew.alias("r"),
            (rnew / F.col("deg") + F.lit(beta) * F.col("p")).alias("p"),
        )

    # pin to mean zero (nullspace of L is the constant vector) — lazy
    # broadcast crossJoin; x sits above a pin, so no re-execution
    x = state.select("id", "x")
    mx = x.agg(F.avg("x").alias("mx"))
    return x.crossJoin(F.broadcast(mx)).select(
        "id", (F.col("x") - F.coalesce("mx", F.lit(0.0))).alias("x")
    )


def effective_resistance(
    edges_undirected: DataFrame, u: int, v: int, max_iter: int = 50
) -> float:
    """R_eff(u,v) = (e_u − e_v)ᵀ L⁺ (e_u − e_v) via one CG solve
    (CommuteTimeDistance core, ``distance/CommuteTimeDistance.hpp:24``)."""
    spark = edges_undirected.sparkSession
    b = spark.createDataFrame([(u, 1.0), (v, -1.0)], ["id", "x"])
    x = conjugate_gradient(edges_undirected, b, max_iter=max_iter)
    vals = {r["id"]: r["x"] for r in x.where(F.col("id").isin([u, v])).collect()}
    return float(vals.get(u, 0.0) - vals.get(v, 0.0))


def commute_time_distances(
    edges_undirected: DataFrame, pairs: list[tuple[int, int]], max_iter: int = 50
) -> DataFrame:
    """CommuteTimeDistance for the given pairs: C(u,v) = vol(G)·R_eff(u,v)
    → (u, v, commute_time) rounded 6dp. One CG solve per pair (the
    reference solves per-pair too; its ``runApproximation`` uses random
    projections — future optimization)."""
    spark = edges_undirected.sparkSession
    eu = _sym(edges_undirected)
    vol = eu.agg(F.sum("weight")).collect()[0][0] or 0.0
    rows = []
    for u, v in pairs:
        reff = effective_resistance(edges_undirected, u, v, max_iter=max_iter)
        rows.append((u, v, round(vol * reff, 6)))
    return spark.createDataFrame(rows, "u long, v long, commute_time double")


def spanning_edge_centrality(
    edges_undirected: DataFrame, sample_edges: int = 20, max_iter: int = 40
) -> DataFrame:
    """SpanningEdgeCentrality (``centrality/SpanningEdgeCentrality.hpp:23``):
    per-edge effective resistance × weight = probability the edge is in a
    uniform random spanning tree. Exact per-edge solves are O(m) CG runs;
    this computes the top-``sample_edges`` canonical edges by weight then
    id (deterministic sample — the reference's approximation samples too).
    → (u, v, sec) rounded 6dp."""
    e = edges_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    canon = (
        e.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"), "weight")
        .groupBy("u", "v")
        .agg(F.max("weight").alias("weight"))
        .orderBy(F.desc("weight"), F.asc("u"), F.asc("v"))
        .limit(sample_edges)
    )
    spark = e.sparkSession
    rows = []
    for r in canon.collect():
        reff = effective_resistance(edges_undirected, int(r["u"]), int(r["v"]), max_iter)
        rows.append((int(r["u"]), int(r["v"]), round(float(r["weight"]) * reff, 6)))
    return spark.createDataFrame(rows, "u long, v long, sec double")


def trace_lplus(
    edges_undirected: DataFrame, probes: int = 4, max_iter: int = 40
) -> float:
    """Hutchinson estimator of trace(L⁺): (1/k)·Σ zᵀ·L⁺·z over
    mean-centered ±1 probe vectors z (deterministic from xxhash64 parity
    — reproducible across runs). One CG solve per probe."""
    eu = _sym(edges_undirected)
    all_nodes = checkpoint(eu.select(F.col("src").alias("id")).distinct())
    total = 0.0
    for p in range(probes):
        z = all_nodes.select(
            "id",
            F.when(F.pmod(F.xxhash64(F.lit(p), F.col("id")), 2) == 0, 1.0)
            .otherwise(-1.0)
            .alias("x"),
        )
        mean = z.agg(F.avg("x")).collect()[0][0] or 0.0
        z = checkpoint(z.select("id", (F.col("x") - F.lit(mean)).alias("x")))
        x = conjugate_gradient(edges_undirected, z, max_iter=max_iter)
        total += _dot(z, x)
    return total / max(probes, 1)


def electrical_closeness(
    edges_undirected: DataFrame,
    nodes: list[int],
    max_iter: int = 40,
    trace_probes: int = 4,
) -> DataFrame:
    """Electrical (current-flow) closeness: for node u,
    closeness = (n−1) / Σ_v R_eff(u,v) with the exact identity
    Σ_v R_eff(u,v) = n·L⁺[u,u] + trace(L⁺)  (rows of L⁺ sum to 0).
    L⁺ column u comes from one CG solve of L·x = e_u − (1/n)·1; trace(L⁺)
    from a Hutchinson estimate (the reference's
    ``centrality/ApproxElectricalCloseness.hpp:28`` samples USTs instead
    — same approximation class). → (id, electrical_closeness) 6dp."""
    spark = edges_undirected.sparkSession
    eu = _sym(edges_undirected)
    all_nodes = (
        checkpoint(eu.select(F.col("src").alias("id")).distinct())
    )
    n = all_nodes.count()
    tr = trace_lplus(edges_undirected, probes=trace_probes, max_iter=max_iter)
    rows = []
    for u in nodes:
        b = all_nodes.select(
            "id",
            (F.when(F.col("id") == u, 1.0).otherwise(0.0) - F.lit(1.0 / n)).alias("x"),
        )
        x = conjugate_gradient(edges_undirected, b, max_iter=max_iter)
        xu = x.where(F.col("id") == u).collect()
        xu_val = xu[0]["x"] if xu else 0.0
        farness = n * xu_val + tr
        rows.append((u, round((n - 1) / farness, 6) if farness > 0 else None))
    return spark.createDataFrame(rows, "id long, electrical_closeness double")
