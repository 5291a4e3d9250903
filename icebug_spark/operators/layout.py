"""Graph layout: PivotMDS + approximate MaxentStress.

Parity targets: reference ``viz/PivotMDS.hpp:23`` (Brandes & Pich — MDS
on a pivot-sampled distance matrix) and ``viz/MaxentStress.hpp:39``
(Gansner–Hu–North maxent-stress model). The reference's viz module is
otherwise out of analytics scope (SURVEY §2.17); these two are included
because their computation is pure graph analytics: BFS distances, sparse
stress iterations, eigendecomposition.

Spark shape: the distance matrix columns come from ONE batched
multi-source BFS (distributed, the dominant cost); the double-centered
covariance is k×k (pivot-count-sized, independent of n), so its
eigendecomposition runs driver-side with numpy — the standard split for
Nyström-style methods. Final coordinates are a distributed matrix-vector
product: one join + groupBy per output dimension, evaluated together.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.traversal import multi_source_bfs
from icebug_spark.plans.iterate import checkpoint


def pivot_mds(
    edges_undirected: DataFrame,
    dim: int = 2,
    num_pivots: int = 16,
    max_hops: int = 30,
    unreached: float | None = None,
) -> DataFrame:
    """→ (id, coords ARRAY<DOUBLE>[dim]).

    Pivots = top-degree nodes (deterministic stand-in for the reference's
    random picks; same O(k) pivot regime). d(pivot, v) from batched BFS;
    unreached pairs get ``unreached`` (default: max observed distance + 1,
    the usual finite surrogate). C = -1/2 · J d² J is built k×n
    distributed, the k×k Gram matrix collected, eigenvectors computed in
    numpy, and coordinates projected back distributedly."""
    eu = checkpoint(edges_undirected.select("src", "dst"))
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    pivots = [
        int(r["id"])
        for r in deg.orderBy(F.desc("deg"), "id").limit(num_pivots).collect()
    ]
    k = len(pivots)
    d = checkpoint(multi_source_bfs(eu, pivots, max_hops))

    nodes = eu.select(F.col("src").alias("id")).distinct()
    dmax = d.agg(F.max("dist")).collect()[0][0] or 1
    fill = float(unreached if unreached is not None else dmax + 1)
    # dense (source, id, d2) with unreached fill
    grid = checkpoint(
        nodes.crossJoin(
            d.sparkSession.createDataFrame([(p,) for p in pivots], "source BIGINT")
        )
        .join(d, ["source", "id"], "left")
        .select(
            "source", "id",
            F.pow(F.coalesce(F.col("dist").cast("double"), F.lit(fill)), 2).alias("d2"),
        )
    )

    # double centering: c(p, v) = -1/2 (d2 - rowmean_p - colmean_v + total)
    rowm = grid.groupBy("source").agg(F.avg("d2").alias("rm"))
    colm = grid.groupBy("id").agg(F.avg("d2").alias("cm"))
    total = grid.agg(F.avg("d2")).collect()[0][0]
    c = checkpoint(
        grid.join(F.broadcast(rowm), "source")
        .join(colm, "id")
        .select(
            "source", "id",
            (-0.5 * (F.col("d2") - F.col("rm") - F.col("cm") + F.lit(total))).alias("c"),
        )
    )

    # k×k Gram matrix B = C Cᵀ (pivot-by-pivot, collected — k² scalars)
    a = c.select(F.col("source").alias("p"), "id", F.col("c").alias("ca"))
    b = c.select(F.col("source").alias("q"), "id", F.col("c").alias("cb"))
    gram_rows = (
        a.join(b, "id")
        .groupBy("p", "q")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("g"))
        .collect()
    )
    idx = {p: i for i, p in enumerate(pivots)}
    B = np.zeros((k, k))
    for r in gram_rows:
        B[idx[r["p"]], idx[r["q"]]] = r["g"]
    vals, vecs = np.linalg.eigh(B)
    order = np.argsort(vals)[::-1][:dim]
    # coordinates: x_j = Cᵀ u_j / sqrt(lambda_j)  (Nyström projection)
    weights = []
    for rank, j in enumerate(order):
        lam = max(vals[j], 1e-12)
        for p in pivots:
            weights.append((int(p), int(rank), float(vecs[idx[p], j] / np.sqrt(lam))))
    wdf = d.sparkSession.createDataFrame(weights, "source BIGINT, comp INT, w DOUBLE")
    coords = (
        c.join(F.broadcast(wdf), "source")
        .groupBy("id", "comp")
        .agg(F.sum(F.col("c") * F.col("w")).alias("x"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("comp", "x"))).alias("s"))
        .select(
            "id",
            F.transform(F.col("s"), lambda t: F.round(t["x"], 6)).alias("coords"),
        )
    )
    return coords

def maxent_stress(
    edges_undirected: DataFrame,
    dim: int = 2,
    iterations: int = 12,
    alpha: float = 0.1,
    alpha_decay: float = 0.7,
    sample_size: int = 48,
    seed: int = 11,
    init: DataFrame | None = None,
) -> DataFrame:
    """Approximate maxent-stress layout → (id, coords ARRAY<DOUBLE>[dim]).

    Reference ``viz/MaxentStress.hpp:39`` (Gansner–Hu–North): minimize
    stress over NEIGHBOR pairs only (w_ij = 1/d_ij², d_ij = 1 here) while
    spreading non-neighbors by a maximum-entropy repulsion term. Local
    iteration (paper eq. 4, q = 0):

        x_i ← (1/ρ_i)·Σ_{j∼i} w_ij·(x_j + d_ij·(x_i−x_j)/‖x_i−x_j‖)
              + (α/ρ_i)·(n/|S|)·Σ_{j∈S} (x_i−x_j)/‖x_i−x_j‖

    with α annealed by ``alpha_decay`` per round. The reference
    approximates the repulsion sum with a well-separated pair
    decomposition (inherently pointer-chasing); the distributed surrogate
    is a DETERMINISTIC hash-sampled global node set S, broadcast each
    round — n·|S| repulsion rows, linear in n, shuffle-free. Neighbor
    attraction is one m-row join + element-wise aggregation, all in
    whole-stage codegen (zip_with / aggregate higher-order functions).
    Initialized from :func:`pivot_mds` (the reference seeds from a cheap
    base layout the same way) unless ``init`` (id, coords) is given.
    """
    eu = edges_undirected.select("src", "dst")
    eu = checkpoint(
        eu.union(eu.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    x = init if init is not None else pivot_mds(eu, dim=dim)
    x = x.select("id", F.col("coords").cast("array<double>").alias("coords"))
    x = checkpoint(x)
    n = x.count()
    deg = eu.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("rho"))

    def _norm(a, b):
        return F.sqrt(
            F.greatest(
                F.aggregate(
                    F.zip_with(a, b, lambda p, q: (p - q) * (p - q)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                F.lit(1e-18),
            )
        )

    a = alpha
    for it in range(iterations):
        xs = x.select(F.col("id").alias("src"), F.col("coords").alias("xi"))
        xd = x.select(F.col("id").alias("dst"), F.col("coords").alias("xj"))
        # attraction: per-edge target-distance-1 spring toward each neighbor
        att = (
            eu.join(xs, "src")
            .join(xd, "dst")
            .withColumn("nrm", _norm(F.col("xi"), F.col("xj")))
            .select(
                F.col("src").alias("id"),
                F.posexplode(
                    F.zip_with(
                        F.col("xi"),
                        F.col("xj"),
                        lambda p, q: q + (p - q) / F.col("nrm"),
                    )
                ).alias("comp", "contrib"),
            )
            .groupBy("id", "comp")
            .agg(F.sum("contrib").alias("att"), F.count(F.lit(1)).alias("rho"))
        )
        # repulsion: deterministic hash sample S, broadcast to every node
        samp = (
            x.withColumn("h", F.xxhash64(F.lit(seed + it), "id"))
            .orderBy("h", "id")
            .limit(sample_size)
            .select(F.col("id").alias("sid"), F.col("coords").alias("xj"))
        )
        rep = (
            x.crossJoin(F.broadcast(samp))
            .where(F.col("id") != F.col("sid"))
            .withColumn("nrm", _norm(F.col("coords"), F.col("xj")))
            .select(
                "id",
                F.posexplode(
                    F.zip_with(
                        F.col("coords"),
                        F.col("xj"),
                        lambda p, q: (p - q) / F.col("nrm"),
                    )
                ).alias("comp", "rc"),
            )
            .groupBy("id", "comp")
            .agg(F.sum("rc").alias("rep"), F.count(F.lit(1)).alias("cnt"))
        )
        upd = (
            att.join(rep, ["id", "comp"], "left")
            .select(
                "id",
                "comp",
                (
                    F.col("att") / F.col("rho")
                    + F.lit(a)
                    / F.col("rho")
                    * (F.lit(float(n)) / F.greatest("cnt", F.lit(1)))
                    * F.coalesce("rep", F.lit(0.0))
                ).alias("xc"),
            )
            .groupBy("id")
            .agg(
                F.array_sort(F.collect_list(F.struct("comp", "xc"))).alias("s")
            )
            .select("id", F.transform("s", lambda t: t["xc"]).alias("coords"))
        )
        # isolated nodes (no incident edges) keep their coordinates
        x = checkpoint(
            upd.unionByName(x.join(deg, "id", "left_anti"))
        )
        a *= alpha_decay
    return x.select("id", F.transform("coords", lambda v: F.round(v, 6)).alias("coords"))


def layout_stress(edges_undirected: DataFrame, coords: DataFrame) -> float:
    """Σ_{(i,j)∈E} (‖x_i−x_j‖ − 1)² — the neighbor-stress objective
    MaxentStress minimizes (evaluation helper for tests/benchmarks)."""
    eu = edges_undirected.select("src", "dst")
    eu = eu.union(eu.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    xs = coords.select(F.col("id").alias("src"), F.col("coords").alias("xi"))
    xd = coords.select(F.col("id").alias("dst"), F.col("coords").alias("xj"))
    d = (
        eu.join(xs, "src")
        .join(xd, "dst")
        .select(
            F.sqrt(
                F.aggregate(
                    F.zip_with("xi", "xj", lambda p, q: (p - q) * (p - q)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ).alias("nrm")
        )
    )
    row = d.agg(F.sum(F.pow(F.col("nrm") - 1.0, 2)).alias("s")).collect()[0]
    return float(row["s"] or 0.0) / 2.0  # both directions present


#: the reference's 24-color cyclic palette (PostscriptWriter.cpp:21-29)
_PS_COLORS = [
    (1.0, 0.0, 0.0), (1.0, 0.5, 0.0), (1.0, 1.0, 0.0), (0.5, 1.0, 0.0),
    (0.0, 1.0, 0.0), (0.0, 1.0, 0.5), (0.0, 1.0, 1.0), (0.0, 0.5, 1.0),
    (0.0, 0.0, 1.0), (0.5, 0.0, 1.0), (1.0, 0.0, 1.0), (1.0, 0.0, 0.5),
    (0.6, 0.0, 0.0), (0.6, 0.3, 0.0), (0.6, 0.6, 0.0), (0.3, 0.6, 0.0),
    (0.0, 0.6, 0.0), (0.0, 0.6, 0.3), (0.0, 0.6, 0.6), (0.0, 0.3, 0.6),
    (0.0, 0.0, 0.6), (0.3, 0.0, 0.6), (0.6, 0.0, 0.6), (0.6, 0.0, 0.3),
]


def write_postscript(
    edges: DataFrame,
    layout: DataFrame,
    path: str,
    clustering: DataFrame | None = None,
    torus: bool = False,
) -> None:
    """PostscriptWriter (``viz/PostscriptWriter.hpp:25``,
    ``PostscriptWriter.cpp:37-167``): EPS drawing of a laid-out graph —
    1020x1020 canvas, coordinates affinely scaled into the bounding box,
    one ``p x y m x y l s`` line per edge, one ``p x y 2.0 0 360 a s``
    dot per node, 3-decimal fixed formatting and the reference's macro
    block + 24-color cyclic cluster palette (same-cluster edges colored,
    cross-cluster edges grey, uncolored nodes black). ``torus=True``
    mirrors the wrap-around header and the ±500 edge-shortening rule.

    ``layout`` is (id, x, y) — the output of :func:`pivot_mds` /
    :func:`maxent_stress`; ``clustering`` optional (id, cluster). The
    draw list is one driver pass over the collected coordinates (a
    rendered figure is a small-graph artifact; the layout itself is the
    distributed part)."""
    pts = {int(r["id"]): (float(r["x"]), float(r["y"])) for r in layout.collect()}
    cl = (
        {int(r["id"]): int(r["cluster"]) for r in clustering.collect()}
        if clustering is not None
        else {}
    )
    es = [
        (int(r["src"]), int(r["dst"]))
        for r in edges.select("src", "dst").collect()
        if int(r["src"]) in pts and int(r["dst"]) in pts
    ]
    size, border = 1020.0, 0.0
    xs = [p[0] for p in pts.values()] or [0.0]
    ys = [p[1] for p in pts.values()] or [0.0]
    mnx, mny, mxx, mxy = min(xs), min(ys), max(xs), max(ys)
    sx = (size - 2 * border) / (mxx - mnx) if mxx > mnx else 1.0
    sy = (size - 2 * border) / (mxy - mny) if mxy > mny else 1.0

    def adj(p):
        return ((p[0] - mnx) * sx + border, (p[1] - mny) * sy + border)

    lines = []
    lines.append("%!PS-Adobe-3.0 EPSF-3.0" if torus else "%!PS-Adobe-1.0")
    lines.append("%%Title: NetworKit visualization")
    lines.append(f"%%BoundingBox: 0.000 0.000 {size:.3f} {size:.3f}")
    lines.append("%%EndComments")
    if not torus:
        lines.append("%%EndProlog")
        lines.append("gsave")
    lines.append(
        "/p {newpath} bind def\n/m {moveto} bind def\n"
        "/r {rmoveto} bind def\n/k {rlineto} bind def\n"
        "/l {lineto} bind def\n/n {rlineto} bind def\n"
        "/c {setrgbcolor} bind def\n/s {stroke} bind def\n"
        "/w {setlinewidth} bind def\n/h {show} bind def\n"
        "/a {arc closepath fill} bind def\n/b {closepath eofill} bind def"
    )
    lines.append("0.000 0.000 0.000 c")
    for u, v in es:
        cu, cv = cl.get(u), cl.get(v)
        if cu is not None and cu == cv:
            r, g, b = _PS_COLORS[cu % len(_PS_COLORS)]
            pre = f"{r:.3f} {g:.3f} {b:.3f} c "
        else:
            pre = "0.80 0.80 0.80 c 1.0 w "
        (x0, y0), (x1, y1) = adj(pts[u]), adj(pts[v])
        if torus:  # shorten wrap-around edges (PostscriptWriter.cpp:104)
            dx, dy = x1 - x0, y1 - y0
            dx += -1000.0 if dx > 500.0 else (1000.0 if dx < -500.0 else 0.0)
            dy += -1000.0 if dy > 500.0 else (1000.0 if dy < -500.0 else 0.0)
            x1, y1 = x0 + dx, y0 + dy
        lines.append(f"{pre}p {x0:.3f} {y0:.3f} m {x1:.3f} {y1:.3f} l s")
    for u, p in sorted(pts.items()):
        if u in cl:
            r, g, b = _PS_COLORS[cl[u] % len(_PS_COLORS)]
            lines.append(f"{r:.3f} {g:.3f} {b:.3f} c ")
        else:
            lines.append("0.0 0.0 0.0 c ")
        x, y = adj(p)
        lines.append(f"p {x:.3f} {y:.3f} 2.0 0.00 360.00 a s")
    if not torus:
        lines.append("grestore")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def num_edge_crossings(edges: DataFrame, layout: DataFrame) -> int:
    """GraphLayoutAlgorithm::numEdgeCrossings
    (``viz/GraphLayoutAlgorithm.hpp:36``): count of edge pairs whose
    drawn segments cross. Computed DISTRIBUTED: edges join their
    endpoint coordinates, self-join on eid_a < eid_b, and a proper
    segment-intersection test (signed-area orientation predicates, the
    robust formulation) counts each crossing pair once.

    Documented divergences from the reference's slope-intercept loop:
    (1) its second intercept is computed with the FIRST edge's slope
    (``b2 = p.y - m1*p.x``, hpp:48 — a bug that misplaces the
    intersection test), (2) it divides by zero on vertical segments,
    and (3) it counts pairs sharing an endpoint as crossings. This
    implementation tests true proper crossings and excludes
    endpoint-sharing pairs; for layouts in general position without
    vertical lines the intended semantics agree.

    Edges are canonicalized to ONE undirected row per drawn segment
    (least/greatest + distinct) before eids are assigned, so passing a
    symmetrized both-directions edge table cannot double-count a
    geometric crossing."""
    pts = layout.select("id", "x", "y")
    e = checkpoint(
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
        .withColumn("eid", F.monotonically_increasing_id())
        .join(pts.select(F.col("id").alias("src"), F.col("x").alias("x1"), F.col("y").alias("y1")), "src")
        .join(pts.select(F.col("id").alias("dst"), F.col("x").alias("x2"), F.col("y").alias("y2")), "dst")
    )
    a = e.select(
        F.col("eid").alias("ea"), F.col("src").alias("ua"), F.col("dst").alias("va"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        F.col("x2").alias("ax2"), F.col("y2").alias("ay2"),
    )
    b = e.select(
        F.col("eid").alias("eb"), F.col("src").alias("ub"), F.col("dst").alias("vb"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
        F.col("x2").alias("bx2"), F.col("y2").alias("by2"),
    )

    def ccw(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = ccw(F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"), F.col("bx1"), F.col("by1"))
    d2 = ccw(F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"), F.col("bx2"), F.col("by2"))
    d3 = ccw(F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"), F.col("ax1"), F.col("ay1"))
    d4 = ccw(F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"), F.col("ax2"), F.col("ay2"))
    shares = (
        (F.col("ua") == F.col("ub")) | (F.col("ua") == F.col("vb"))
        | (F.col("va") == F.col("ub")) | (F.col("va") == F.col("vb"))
    )
    crossing = (d1 * d2 < 0) & (d3 * d4 < 0)
    n = (
        a.crossJoin(b)
        .where((F.col("ea") < F.col("eb")) & ~shares & crossing)
        .count()
    )
    return int(n)


def write_layout_gml(edges: DataFrame, layout: DataFrame, path: str, directed: bool = False) -> None:
    """GraphLayoutAlgorithm::writeGraphToGML
    (``viz/GraphLayoutAlgorithm.hpp:74``): GML with per-node graphics
    blocks, coordinates scaled by 50 like the reference; a 3-D layout
    (id, x, y, z) also emits the reference's ``z 50*coord`` line
    (hpp:95's dim==3 branch), so round-tripping keeps the dimension."""
    has_z = "z" in layout.columns
    pts = sorted(
        (
            int(r["id"]),
            float(r["x"]),
            float(r["y"]),
            float(r["z"]) if has_z else None,
        )
        for r in layout.collect()
    )
    es = sorted((int(r["src"]), int(r["dst"])) for r in edges.select("src", "dst").collect())
    with open(path, "w") as f:
        f.write("graph [\n")
        if directed:
            f.write("  directed 1\n")
        for u, x, y, z in pts:
            zline = f"      z {50 * z}\n" if has_z else ""
            f.write(
                f"  node [\n    id {u}\n    graphics\n"
                f"    [ x {50 * x}\n      y {50 * y}\n{zline}    ]\n  ]\n"
            )
        for u, v in es:
            f.write(f"  edge [\n    source {u}\n    target {v}\n  ]\n")
        f.write("]\n")


def write_kinemage(edges: DataFrame, layout3d: DataFrame, path: str) -> None:
    """GraphLayoutAlgorithm::writeKinemage
    (``viz/GraphLayoutAlgorithm.hpp:113``): kinemage text — header
    directives, one ``{a} x y z`` ball per node, ``P``-prefixed vector
    pairs per edge. Requires a 3-D layout (id, x, y, z) like the
    reference's dimension guard."""
    import os

    cols = set(layout3d.columns)
    if not {"x", "y", "z"} <= cols:
        raise ValueError("write_kinemage requires a 3-D layout (id, x, y, z)")
    pts = {
        int(r["id"]): (float(r["x"]), float(r["y"]), float(r["z"]))
        for r in layout3d.collect()
    }
    es = [(int(r["src"]), int(r["dst"])) for r in edges.select("src", "dst").collect()]
    name = "/" + os.path.basename(path)
    with open(path, "w") as f:
        f.write("@whitebackground\n@zoom 1.0\n@zslab 240\n@center 0 0 0\n")
        f.write("@master{points}\n")
        f.write(f"@group{{{name}}}\n")
        f.write("@balllist {a} color= blue master={points} radius= 0.05\n")
        for u in sorted(pts):
            x, y, z = pts[u]
            f.write(f"{{a}}{x} {y} {z}\n")
        f.write("\n@subgroup {edges} dominant\n@vectorlist {edges} color= white\n")
        for u, v in es:
            x, y, z = pts[u]
            f.write(f"P {x} {y} {z}\n")
            x, y, z = pts[v]
            f.write(f"{x} {y} {z}\n")
        f.write("\n")
