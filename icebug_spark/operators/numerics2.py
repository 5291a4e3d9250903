"""Numerics part 2: augmented graphs, forest closeness centrality, greedy
distance-1 coloring, and chromatic (colored) Gauss-Seidel relaxation.

Parity targets (reference):
- GraphTools::createAugmentedGraph  ``graph/GraphTools.hpp`` (root joined
  to every node — the forest-matrix trick)
- ForestCentrality                  ``centrality/ForestCentrality.hpp:24``
  (van der Grinten et al, SDM'21: forest distances in G are effective
  resistances in the augmented graph G′)
- GaussSeidelRelaxation             ``numerics/GaussSeidelRelaxation.hpp:20``

Spark-first shapes:
- forest centrality reuses the CG-on-Laplacian kernel from
  :mod:`icebug_spark.operators.numerics` on the augmented edge set: one
  solve for the root column + one per queried node; the reference's UST
  sampler is replaced by the same-approximation-class linear-system path
  (exactly how its sibling ApproxElectricalCloseness is handled there).
- plain Gauss-Seidel is sequential by definition (each update reads the
  newest values). The distributed-correct equivalent is CHROMATIC
  Gauss-Seidel: nodes are greedily distance-1 colored (iterated Luby MIS
  — every class is independent), then one sweep updates the classes in
  color order; within a class all updates are embarrassingly parallel
  because no two touched unknowns are adjacent. Same fixed point, same
  smoothing behavior, bounded parallelism loss = number of colors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.independent import luby_mis
from icebug_spark.plans.iterate import checkpoint, pin


def create_augmented_graph(
    edges_undirected: DataFrame, root_weight: float = 1.0
) -> tuple[DataFrame, int]:
    """G′ := G + universal root r (= max id + 1) connected to every node
    with ``root_weight``. Returns (CANONICAL one-arc-per-edge weighted
    edge list — the convention the CG kernel in operators/numerics
    expects; it symmetrizes internally — plus the root id). Accepts either
    canonical or symmetrized input (dedups to u < v)."""
    e = edges_undirected
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    e = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "weight",
        )
        .groupBy("src", "dst")
        .agg(F.max("weight").alias("weight"))
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    root = nodes.agg(F.max("id")).collect()[0][0] + 1
    spokes = nodes.select(
        F.col("id").alias("src"), F.lit(root).alias("dst"), F.lit(root_weight).alias("weight")
    )
    return e.unionByName(spokes), int(root)


def forest_centrality(
    edges_undirected: DataFrame,
    nodes: list[int],
    max_iter: int = 60,
    trace_probes: int = 4,
    exact_trace: bool = False,
) -> DataFrame:
    """Forest closeness (``centrality/ForestCentrality.hpp:24``):
    f(v) = (n−1) / Σ_{u∈V} ω(v,u), where the forest distance ω equals
    the effective resistance in the augmented graph G′. Using the L⁺
    identities on G′ (n′ = n+1 nodes):

        Σ_{u∈V′} ρ′(v,u) = n′·L′⁺[v,v] + tr(L′⁺)
        ρ′(v,root)        = L′⁺[v,v] + L′⁺[r,r] − 2·L′⁺[r,v]
        Σ_{u∈V}  ω(v,u)   = the first minus the second

    One CG solve gives column v of L′⁺ (so both L′⁺[v,v] and L′⁺[r,v]);
    one extra shared solve gives L′⁺[r,r]. tr(L′⁺) comes from Hutchinson
    probes by default; ``exact_trace=True`` instead solves every node
    column and sums the diagonal — exact, and free when ``nodes`` already
    covers all vertices (the Hutchinson hash-parity probes are degenerate
    on very small graphs, where exact_trace is also cheapest).
    → (id, forest_closeness) 6dp."""
    from icebug_spark.operators.numerics import conjugate_gradient, trace_lplus

    aug, root = create_augmented_graph(edges_undirected)
    aug = checkpoint(aug)
    spark = edges_undirected.sparkSession
    all_nodes = checkpoint(
        aug.select(F.col("src").alias("id"))
        .union(aug.select(F.col("dst").alias("id")))
        .distinct()
    )
    n_aug = all_nodes.count()
    n = n_aug - 1

    def _col_solve(u: int) -> DataFrame:
        b = all_nodes.select(
            "id",
            (
                F.when(F.col("id") == u, 1.0).otherwise(0.0) - F.lit(1.0 / n_aug)
            ).alias("x"),
        )
        return conjugate_gradient(aug, b, max_iter=max_iter)

    xr = checkpoint(_col_solve(root))
    lrr = xr.where(F.col("id") == root).collect()[0]["x"]

    solve_ids = (
        sorted({int(v) for v in nodes} | {
            int(r["id"]) for r in all_nodes.where(F.col("id") != root).collect()
        })
        if exact_trace
        else [int(v) for v in nodes]
    )
    diag: dict[int, float] = {}
    offr: dict[int, float] = {}
    for v in solve_ids:
        xv = _col_solve(v)
        got = {r["id"]: r["x"] for r in xv.where(F.col("id").isin([v, root])).collect()}
        diag[v] = got.get(v, 0.0)
        offr[v] = got.get(root, 0.0)

    tr = (
        sum(diag.values()) + lrr
        if exact_trace
        else trace_lplus(aug, probes=trace_probes, max_iter=max_iter)
    )

    rows = []
    for v in nodes:
        lvv, lrv = diag[int(v)], offr[int(v)]
        farness = n_aug * lvv + tr - (lvv + lrr - 2 * lrv)
        rows.append(
            (int(v), round((n - 1) / farness, 6) if farness > 0 else None)
        )
    return spark.createDataFrame(rows, "id long, forest_closeness double")


def greedy_coloring(
    edges_undirected: DataFrame, max_colors: int = 64, seed: int = 7
) -> DataFrame:
    """Distance-1 coloring by iterated Luby MIS: color c = a maximal
    independent set of the residual graph. → (id, color). Classes are
    proper (no edge within a color) — the enabling property for chromatic
    Gauss-Seidel and other within-class-parallel sweeps."""
    from icebug_spark.plans.iterate import checkpoint_observe

    eu = checkpoint(edges_undirected.select("src", "dst").where(
        F.col("src") != F.col("dst")
    ))
    # residual emptiness observed during each remaining-checkpoint — no
    # separate limit(1).count job per color round
    remaining_nodes, rm = checkpoint_observe(
        eu.select(F.col("src").alias("id")).distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    n_remaining = int(rm["n"] or 0)
    spark = edges_undirected.sparkSession
    out = []
    for c in range(max_colors):
        if n_remaining == 0:
            break
        mis = luby_mis(eu, seed=seed + c)
        # isolated-in-residual nodes never appear in eu: add them all
        isolated = remaining_nodes.join(
            eu.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
        )
        cls = checkpoint(mis.select("id").union(isolated).distinct())
        out.append(cls.withColumn("color", F.lit(c)))
        remaining_nodes, rm = checkpoint_observe(
            remaining_nodes.join(cls, "id", "left_anti"),
            F.count(F.lit(1)).alias("n"),
        )
        n_remaining = int(rm["n"] or 0)
        eu = checkpoint(
            eu.join(cls.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(cls.withColumnRenamed("id", "dst"), "dst", "left_anti")
        )
    res = out[0]
    for df in out[1:]:
        res = res.union(df)
    return res


def gauss_seidel_relaxation(
    edges_weighted: DataFrame,
    diag: DataFrame,
    b: DataFrame,
    sweeps: int = 10,
    coloring: DataFrame | None = None,
    x0: DataFrame | None = None,
) -> DataFrame:
    """Chromatic Gauss-Seidel sweeps for A·x = b where A has off-diagonal
    −w(u,v) (from ``edges_weighted``) and diagonal ``diag(id, diag)``
    (e.g. diag = degree + 1 solves (L+I)x = b). ``b``: (id, x).

    Per sweep, color classes update in order; each class update is
        x_i ← (b_i + Σ_{j∼i} w_ij·x_j) / A_ii
    evaluated with the NEWEST x (classes updated earlier this sweep
    contribute their new values) — exactly sequential Gauss-Seidel under
    any topological order consistent with the coloring. → (id, x)."""
    e = edges_weighted
    if "weight" not in e.columns:
        e = e.select("src", "dst", F.lit(1.0).alias("weight"))
    eu = checkpoint(e.select("src", "dst", "weight"))
    if coloring is None:
        coloring = greedy_coloring(eu)
    coloring = checkpoint(coloring)
    # greedy_coloring only sees nodes on edges: ids present in b but with
    # no incident edge would never join any color class and keep x = x0
    # instead of b_i/diag_i. They are pairwise independent — one extra
    # color class covers them all.
    mx = coloring.agg(F.max("color")).collect()[0][0]
    isolated = (
        b.select("id")
        .join(coloring.select("id"), "id", "left_anti")
        .withColumn("color", F.lit((mx if mx is not None else -1) + 1))
    )
    coloring = checkpoint(coloring.unionByName(isolated))
    colors = sorted(r["color"] for r in coloring.select("color").distinct().collect())

    base = b.select("id", F.col("x").alias("b")).join(diag, "id")
    x = (
        x0.select("id", "x")
        if x0 is not None
        else base.select("id", F.lit(0.0).alias("x"))
    )
    # pin (stats-reset checkpoint): each class update references x twice
    # (neighbor sum + left_anti carry-over), so inherited-stats digit
    # counts would double per class update — see plans.iterate.pin.
    x = pin(x)
    for _s in range(sweeps):
        for c in colors:
            cls = coloring.where(F.col("color") == c).select("id")
            # neighbor sum with current x
            nb = (
                eu.join(F.broadcast(cls.withColumnRenamed("id", "dst")), "dst", "leftsemi")
                .join(x.withColumnRenamed("id", "src").withColumnRenamed("x", "xj"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("weight") * F.col("xj")).alias("nbsum"))
            )
            upd = (
                base.join(cls, "id", "leftsemi")
                .join(nb, "id", "left")
                .select(
                    "id",
                    (
                        (F.col("b") + F.coalesce("nbsum", F.lit(0.0))) / F.col("diag")
                    ).alias("x"),
                )
            )
            x = pin(x.join(cls, "id", "left_anti").unionByName(upd))
    return x.select("id", "x")
