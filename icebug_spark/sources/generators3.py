"""Generators part 3: Mocnik spatial graphs, PubWeb P2P geometric graphs,
and clustered random graphs (ground-truth communities).

Parity targets (reference generators/):
- MocnikGenerator              ``generators/MocnikGenerator.hpp:18`` (494 LoC)
- PubWebGenerator              ``generators/PubWebGenerator.hpp:42``
- ClusteredRandomGraphGenerator ``generators/ClusteredRandomGraphGenerator.hpp:24``

Spark-first shapes:
- spatial models generate positions as seeded pure functions of
  ``spark.range`` ids (no shuffle), then find neighbor candidates with a
  GRID-CELL equi-join (the distributed analog of the reference's cell
  array / quadratic scan): points only meet points in adjacent cells, so
  candidate count is O(n · density), not O(n²).
- the rare points whose search radius exceeds the grid stride fall back
  to a broadcast join of JUST those points against the corpus — exactness
  is kept without widening the whole join.
"""

from __future__ import annotations

import itertools
import math
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.graph.core import Graph
from icebug_spark.plans.iterate import checkpoint

_DENOM = 1_000_000_007


def _u01(*cols) -> F.Column:
    """Deterministic uniform [0,1) from hashed columns."""
    return F.pmod(F.xxhash64(*cols), F.lit(_DENOM)).cast("double") / _DENOM


# ---------------------------------------------------------------------------
# ClusteredRandomGraphGenerator
# ---------------------------------------------------------------------------


def clustered_random_graph(
    spark: SparkSession, n: int, k: int, p_intra: float, p_inter: float, seed: int = 11
) -> tuple[Graph, DataFrame]:
    """ClusteredRandomGraphGenerator.hpp:24 — each node joins one of ``k``
    clusters uniformly at random; pairs connect with Bernoulli(p_intra)
    inside a cluster, Bernoulli(p_inter) across. Returns (graph,
    ground-truth partition (id, cluster)).

    Unlike the SBM surface (fixed block sizes), cluster sizes here are
    multinomial — matching the reference, which draws each node's cluster
    independently. Pair enumeration is the same O(n²)-candidate Bernoulli
    filter as the SBM generator (codegen'd, no shuffle until the final
    dedup); for large sparse graphs prefer G(n,m)-style sampling per
    cluster pair."""
    nodes = spark.range(n).select(
        "id", (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(k))).alias("cluster")
    )
    nodes = checkpoint(nodes)
    a = nodes.select(F.col("id").alias("src"), F.col("cluster").alias("cu"))
    b = nodes.select(F.col("id").alias("dst"), F.col("cluster").alias("cv"))
    pairs = a.crossJoin(b).where(F.col("src") < F.col("dst"))
    p = F.when(F.col("cu") == F.col("cv"), p_intra).otherwise(p_inter)
    e = pairs.where(_u01(F.col("src"), F.col("dst"), F.lit(seed + 1)) < p).select(
        "src", "dst"
    )
    return Graph(e, directed=False), nodes


# ---------------------------------------------------------------------------
# MocnikGenerator
# ---------------------------------------------------------------------------


def _grid_cell(cols: list[F.Column], g: int) -> F.Column:
    """Flatten per-dim cell indices (floor(x*g) clamped to g-1) to one id."""
    cell = F.lit(0)
    for c in cols:
        idx = F.least(F.floor(c * g), F.lit(g - 1)).cast("long")
        cell = cell * g + idx
    return cell


def _neighbor_cells(cell_cols: list[F.Column], g: int, reach: int) -> F.Column:
    """Array of flattened cell ids within Chebyshev distance ``reach`` of a
    point's cell (clipped at the boundary — Mocnik space is NOT a torus)."""
    dim = len(cell_cols)
    out = []
    for off in itertools.product(range(-reach, reach + 1), repeat=dim):
        flat = F.lit(0)
        ok = F.lit(True)
        for c, d in zip(cell_cols, off):
            idx = F.least(F.floor(c), F.lit(g - 1)).cast("long") + d
            ok = ok & (idx >= 0) & (idx < g)
            flat = flat * g + F.greatest(F.least(idx, F.lit(g - 1)), F.lit(0))
        out.append(F.when(ok, flat))
    return F.array_compact(F.array(*out))


def mocnik_graph(
    spark: SparkSession,
    dim: int,
    n: int,
    k: float = 2.0,
    weighted: bool = False,
    seed: int = 17,
) -> Graph:
    """Mocnik spatial-network model (``generators/MocnikGenerator.hpp:18``):
    n points uniform in [0,1]^dim; DIRECTED edge u→v iff
    ``dist(u,v) ≤ k · dMin(u)`` where dMin(u) is the distance from u to
    its nearest other node. Weight = distance when ``weighted``.

    Distributed shape (replaces the reference's per-cell OMP scan):
    1. positions: seeded pure function of id (no shuffle);
    2. exact nearest-neighbor distance via grid join: a point's NN is
       within ±1 cells unless its candidate distance exceeds one cell
       stride — those stragglers (empty neighborhoods, sparse corners)
       are re-resolved exactly with a broadcast join against the corpus;
    3. edges: candidates from ±ceil(k) cells (covers r_u = k·dMin(u)
       whenever dMin(u) ≤ stride, i.e. every grid-resolved point), same
       broadcast fallback for the stragglers. Both fallback sets are
       tiny for uniform positions, so the plan stays O(n · density)."""
    if dim < 1 or dim > 3:
        raise ValueError("mocnik_graph supports dim in 1..3")
    # cells-per-dim ~ reference initCellArray: ceil((n/2)^(1/dim) / k)
    g = max(int(math.ceil((n / 2.0) ** (1.0 / dim) / max(k, 1e-9))), 1)
    stride = 1.0 / g

    pos_cols = [
        _u01(F.lit(seed), F.col("id"), F.lit(d)).alias(f"x{d}") for d in range(dim)
    ]
    pts = checkpoint(spark.range(n).select("id", *pos_cols))
    xs = [f"x{d}" for d in range(dim)]

    def _sqdist(a_pref: str, b_pref: str) -> F.Column:
        s = F.lit(0.0)
        for d in range(dim):
            diff = F.col(f"{a_pref}x{d}") - F.col(f"{b_pref}x{d}")
            s = s + diff * diff
        return s

    a = pts.select(
        F.col("id").alias("u"), *[F.col(x).alias(f"u{x}") for x in xs]
    ).withColumn(
        "cells",
        _neighbor_cells([F.col(f"ux{d}") * g for d in range(dim)], g, 1),
    )
    b = pts.select(
        F.col("id").alias("v"),
        *[F.col(x).alias(f"v{x}") for x in xs],
        _grid_cell([F.col(x) for x in xs], g).alias("cell"),
    )

    def _nn_from(cand: DataFrame) -> DataFrame:
        d2 = _sqdist("u", "v")
        return (
            cand.where(F.col("u") != F.col("v"))
            .groupBy("u")
            .agg(F.min(d2).alias("d2min"))
            .select("u", F.sqrt("d2min").alias("dmin"))
        )

    cand1 = a.select("u", *[f"u{x}" for x in xs], F.explode("cells").alias("cell")).join(
        b, "cell"
    )
    nn1 = _nn_from(cand1)

    # stragglers: NN candidate missing or farther than one stride → the true
    # NN may sit outside ±1 cells; re-resolve those exactly via broadcast.
    au = a.drop("cells")
    strag = (
        au.join(nn1, "u", "left")
        .where(F.col("dmin").isNull() | (F.col("dmin") > stride))
        .select("u", *[f"u{x}" for x in xs])
    )
    nn2 = _nn_from(F.broadcast(strag).crossJoin(b.drop("cell")))
    nn = checkpoint(nn1.join(nn2.select("u"), "u", "left_anti").unionByName(nn2))

    # edge candidates: ±ceil(k) cells for grid-resolved points
    reach = max(int(math.ceil(k)), 1)
    a2 = (
        au.join(nn, "u")
        .withColumn(
            "cells",
            _neighbor_cells([F.col(f"ux{d}") * g for d in range(dim)], g, reach),
        )
    )
    grid_ok = a2.where(F.col("dmin") <= stride)
    cand_e = (
        grid_ok.select(
            "u", *[f"u{x}" for x in xs], "dmin", F.explode("cells").alias("cell")
        )
        .join(b, "cell")
        .drop("cell")
    )
    far = a2.where(F.col("dmin") > stride).drop("cells")
    cand_far = F.broadcast(far).crossJoin(b.drop("cell"))

    d2 = _sqdist("u", "v")
    kdmin = F.col("dmin") * k
    edges = (
        cand_e.unionByName(cand_far)
        .where((F.col("u") != F.col("v")) & (d2 <= kdmin * kdmin))
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            F.sqrt(d2).alias("weight"),
        )
        .dropDuplicates(["src", "dst"])
    )
    if not weighted:
        edges = edges.drop("weight")
    return Graph(edges, directed=True, weighted=weighted)


# ---------------------------------------------------------------------------
# PubWebGenerator
# ---------------------------------------------------------------------------

_MAX_DENSE_AREA_RADIUS = 0.2
_MIN_MAX_DENSE_AREA_FACTOR = 5.0
_BASE_WEIGHT = 0.01


def pubweb_graph(
    spark: SparkSession,
    n: int,
    num_dense_areas: int = 12,
    neigh_rad: float = 0.125,
    max_neigh: int = 16,
    seed: int = 23,
) -> Graph:
    """PubWeb P2P geometric model (``generators/PubWebGenerator.hpp:42``,
    Gehweiler & Meyerhenke HPGC'10): points in the UNIT TORUS — a few
    circular dense areas plus uniform background — and an undirected edge
    (u,v) iff each endpoint ranks the other among its ``max_neigh``
    nearest within ``neigh_rad`` (the reference's eligible-then-insert
    scan is exactly mutual-kNN-within-radius; a node's rank-1 slot is its
    own zero-distance pair, faithfully consuming one slot). Weight =
    BASE_WEIGHT / dist².

    Area layout (O(num_dense_areas) scalars) happens driver-side with a
    seeded RNG; point positions and the torus-wrapped grid join are fully
    distributed. Grid stride = neigh_rad, so candidates come from ±1
    cells with torus wrap-around — no quadratic scan."""
    bounds, _areas = _pubweb_layout(n, num_dense_areas, seed)

    u1 = _u01(F.lit(seed), F.col("id"), F.lit(1))
    u2 = _u01(F.lit(seed), F.col("id"), F.lit(2))
    x = u1  # background default: uniform
    y = u2
    for lo, hi, cx, cy, r in bounds:
        in_area = (F.col("id") >= lo) & (F.col("id") < hi)
        angle = 2.0 * math.pi * u1
        dist = u2 * r
        x = F.when(in_area, F.pmod(F.lit(cx) + F.cos(angle) * dist, F.lit(1.0))).otherwise(x)
        y = F.when(in_area, F.pmod(F.lit(cy) + F.sin(angle) * dist, F.lit(1.0))).otherwise(y)

    pts = checkpoint(spark.range(n).select("id", x.alias("x"), y.alias("y")))
    return Graph(
        _pubweb_mutual_knn_edges(pts, neigh_rad, max_neigh),
        directed=False,
        weighted=True,
    )


def _pubweb_layout(n: int, num_dense_areas: int, seed: int):
    """Driver-side area layout (O(num_dense_areas) scalars): radii with
    the reference's anti-quadratic distribution, sizes ∝ rad^1.5
    (chooseDenseAreaSizes / chooseClusterSizes). Returns (bounds, areas):
    ``bounds`` maps initial id ranges to areas, ``areas`` the (cx, cy, r)
    list for later (dynamic) inserts."""
    rng = random.Random(seed)
    radii = []
    for _ in range(num_dense_areas):
        f = rng.random() * _MIN_MAX_DENSE_AREA_FACTOR + 1.0
        radii.append(
            _MAX_DENSE_AREA_RADIUS * f * f / _MIN_MAX_DENSE_AREA_FACTOR**2
        )
    norm = sum(r**1.5 for r in radii) or 1.0
    frac = num_dense_areas / (num_dense_areas + 2.0)
    per_area = [round(n * frac * r**1.5 / norm) for r in radii]
    centers = [(rng.random(), rng.random()) for _ in range(num_dense_areas)]

    # id → (area, radius, center) bounds; remaining ids are background
    bounds = []
    acc = 0
    for (cx, cy), r, m in zip(centers, radii, per_area):
        if acc + m > n:
            m = n - acc
        bounds.append((acc, acc + m, cx, cy, r))
        acc += m
        if acc >= n:
            break
    areas = [(cx, cy, r) for (cx, cy), r in zip(centers, radii)]
    return bounds, areas


def _pubweb_mutual_knn_edges(
    pts: DataFrame, neigh_rad: float, max_neigh: int
) -> DataFrame:
    """Mutual-kNN-within-radius edge set over (id, x, y) torus points —
    the eligibility scan shared by the static generator and
    DynamicPubWebGenerator (stream/batch parity by construction).
    Torus-wrapped ±1 grid-cell join, weight = BASE_WEIGHT / dist²."""
    g = max(int(1.0 // neigh_rad), 1)  # stride ≥ neigh_rad ⇒ ±1 cells suffice
    cell_x = F.least(F.floor(F.col("x") * g), F.lit(g - 1)).cast("long")
    cell_y = F.least(F.floor(F.col("y") * g), F.lit(g - 1)).cast("long")

    b = pts.select(
        F.col("id").alias("v"),
        F.col("x").alias("vx"),
        F.col("y").alias("vy"),
        (cell_x * g + cell_y).alias("cell"),
    )
    # torus neighbor cells: all 9 offsets wrap with pmod
    offs = [
        (F.pmod(cell_x + dx, F.lit(g)) * g + F.pmod(cell_y + dy, F.lit(g)))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ]
    a = pts.select(
        F.col("id").alias("u"),
        F.col("x").alias("ux"),
        F.col("y").alias("uy"),
        F.array_distinct(F.array(*offs)).alias("cells"),
    )

    dx = F.abs(F.col("ux") - F.col("vx"))
    dy = F.abs(F.col("uy") - F.col("vy"))
    tdx = F.least(dx, 1.0 - dx)
    tdy = F.least(dy, 1.0 - dy)
    sq = tdx * tdx + tdy * tdy

    cand = (
        a.select("u", "ux", "uy", F.explode("cells").alias("cell"))
        .join(b, "cell")
        .where(sq <= neigh_rad * neigh_rad)  # self included: occupies rank 1
        .select("u", "v", sq.alias("sq"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("u").orderBy(F.col("sq").asc(), F.col("v").asc())
    ranked = cand.withColumn("rnk", F.row_number().over(w)).where(
        (F.col("rnk") <= max_neigh) & (F.col("u") != F.col("v"))
    )
    # canonical pair kept iff BOTH directions survived the rank cut
    pair = ranked.select(
        F.least("u", "v").alias("src"), F.greatest("u", "v").alias("dst"), "sq"
    )
    return (
        pair.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"), F.min("sq").alias("sq"))
        .where(F.col("c") == 2)
        .select("src", "dst", (F.lit(_BASE_WEIGHT) / F.col("sq")).alias("weight"))
    )


# ---------------------------------------------------------------------------
# DynamicPubWebGenerator
# ---------------------------------------------------------------------------

EVENT_SCHEMA = "seq LONG, type STRING, u LONG, v LONG, w DOUBLE"


class DynamicPubWebGenerator:
    """Dynamic PubWeb process (``generators/DynamicPubWebGenerator.hpp:22``,
    generate loop ``DynamicPubWebGenerator.cpp:24-183``) — the repo's
    first REMOVAL-BEARING generated event stream. Per step, exactly like
    the reference: 5% of current nodes churn out (each one's incident
    edges become EDGE_REMOVAL events, then the node a NODE_REMOVAL), 5%
    churn in at area-drawn torus coordinates (NODE_ADDITION), and the
    mutual-kNN-within-radius edge set is recomputed over the surviving +
    new points — edges no longer eligible emit EDGE_REMOVAL, surviving
    eligible edges re-emit their weight as EDGE_WEIGHT_UPDATE (the
    reference re-weights every surviving edge, ``.cpp:141-146``), newly
    eligible pairs emit EDGE_ADDITION; a TIME_STEP closes the step.

    Spark shape: points and edges are DataFrames; the eligibility scan is
    the SAME ``_pubweb_mutual_knn_edges`` grid join the static generator
    uses (the reference's quadratic FIXME scan replaced by a bucketed
    torus-grid join), churn-out selection is a seeded hash order, and the
    per-step events are assembled as DataFrame unions — the only
    driver-side values are one node count per step. Event seq is a
    per-block constant (blocks are key-disjoint within a step, and
    ``apply_events``'s last-wins resolution is per key), with TIME_STEP
    markers strictly between blocks for ``replay_by_timestep``."""

    def __init__(
        self,
        spark: SparkSession,
        n: int,
        num_dense_areas: int = 12,
        neigh_rad: float = 0.125,
        max_neigh: int = 16,
        seed: int = 23,
        write_initial_graph_to_stream: bool = True,
    ):
        self.spark = spark
        self.neigh_rad = neigh_rad
        self.max_neigh = max_neigh
        self.seed = seed
        self.write_initial = write_initial_graph_to_stream
        self.bounds, self.areas = _pubweb_layout(n, num_dense_areas, seed)

        u1 = _u01(F.lit(seed), F.col("id"), F.lit(1))
        u2 = _u01(F.lit(seed), F.col("id"), F.lit(2))
        x, y = u1, u2
        for lo, hi, cx, cy, r in self.bounds:
            in_area = (F.col("id") >= lo) & (F.col("id") < hi)
            angle = 2.0 * math.pi * u1
            dist = u2 * r
            x = F.when(in_area, F.pmod(F.lit(cx) + F.cos(angle) * dist, F.lit(1.0))).otherwise(x)
            y = F.when(in_area, F.pmod(F.lit(cy) + F.sin(angle) * dist, F.lit(1.0))).otherwise(y)
        self.points = checkpoint(
            spark.range(n)
            .select("id", x.alias("x"), y.alias("y"))
        )
        self.edges = checkpoint(_pubweb_mutual_knn_edges(
            self.points, neigh_rad, max_neigh
        ))
        self.next_id = n
        self.step = 0

    def graph(self) -> Graph:
        """Current graph (reference ``getGraph()``)."""
        return Graph(
            self.edges,
            vertices=self.points.select("id"),
            directed=False,
            weighted=True,
        )

    def _insert_coords(self, new_ids: DataFrame) -> DataFrame:
        """Area-drawn coordinates for churn-in nodes
        (``DynamicPubWebGenerator.cpp:76-95``): uniform choice over
        num_dense_areas + 1 (the +1 is background noise), polar draw
        inside the chosen disc, torus wrap."""
        k = len(self.areas)
        u0 = _u01(F.lit(self.seed), F.lit("dynins"), F.col("id"), F.lit(0))
        u1 = _u01(F.lit(self.seed), F.lit("dynins"), F.col("id"), F.lit(1))
        u2 = _u01(F.lit(self.seed), F.lit("dynins"), F.col("id"), F.lit(2))
        choice = F.floor(u0 * (k + 1)).cast("int")
        x, y = u1, u2  # noise default
        angle = 2.0 * math.pi * u1
        for i, (cx, cy, r) in enumerate(self.areas):
            hit = choice == i
            dist = u2 * r
            x = F.when(hit, F.pmod(F.lit(cx) + F.cos(angle) * dist, F.lit(1.0))).otherwise(x)
            y = F.when(hit, F.pmod(F.lit(cy) + F.sin(angle) * dist, F.lit(1.0))).otherwise(y)
        return new_ids.select("id", x.alias("x"), y.alias("y"))

    def generate(self, n_steps: int) -> DataFrame:
        """Event stream for ``n_steps`` timesteps → EVENT_SCHEMA rows."""
        spark = self.spark
        out: list[DataFrame] = []
        seq = 0

        def emit(df: DataFrame) -> None:
            nonlocal seq
            out.append(
                df.select(
                    F.lit(seq).cast("long").alias("seq"),
                    F.col("type"),
                    F.col("u").cast("long"),
                    F.col("v").cast("long"),
                    F.col("w").cast("double"),
                )
            )
            seq += 1

        def timestep() -> None:
            nonlocal seq
            out.append(
                spark.createDataFrame([(seq, "TIME_STEP", 0, 0, 0.0)], EVENT_SCHEMA)
            )
            seq += 1

        def node_events(ids: DataFrame, typ: str) -> DataFrame:
            return ids.select(
                F.lit(typ).alias("type"),
                F.col("id").alias("u"),
                F.lit(0).alias("v"),
                F.lit(0.0).alias("w"),
            )

        def edge_events(e: DataFrame, typ: str) -> DataFrame:
            return e.select(
                F.lit(typ).alias("type"),
                F.col("src").alias("u"),
                F.col("dst").alias("v"),
                F.col("weight").alias("w"),
            )

        if self.write_initial:
            emit(node_events(self.points.select("id"), "NODE_ADDITION"))
            emit(edge_events(self.edges, "EDGE_ADDITION"))
            timestep()
            self.write_initial = False

        for _ in range(n_steps):
            n_cur = self.points.count()
            n_churn = int(n_cur * 0.05)

            # churn out: seeded-hash node sample; incident edges first
            doomed = checkpoint(
                self.points.select("id")
                .orderBy(_u01(F.lit(self.seed), F.lit("dyndel"), F.lit(self.step), F.col("id")))
                .limit(n_churn)
            )
            incident = self.edges.join(
                doomed.withColumnRenamed("id", "src"), "src", "left_semi"
            ).unionByName(
                self.edges.join(
                    doomed.withColumnRenamed("id", "dst"), "dst", "left_semi"
                )
            ).distinct()
            emit(edge_events(incident, "EDGE_REMOVAL"))
            emit(node_events(doomed, "NODE_REMOVAL"))

            # churn in
            new_ids = spark.range(self.next_id, self.next_id + n_churn).select(
                F.col("id")
            )
            emit(node_events(new_ids, "NODE_ADDITION"))
            pts2 = checkpoint(
                self.points.join(doomed, "id", "left_anti")
                .unionByName(self._insert_coords(new_ids))
            )

            # recompute eligibility; diff against the surviving old edges
            old = self.edges.join(
                doomed.withColumnRenamed("id", "src"), "src", "left_anti"
            ).join(doomed.withColumnRenamed("id", "dst"), "dst", "left_anti")
            new = checkpoint(_pubweb_mutual_knn_edges(
                pts2, self.neigh_rad, self.max_neigh
            ))
            o = old.select("src", "dst", F.col("weight").alias("wo"))
            nw = new.select("src", "dst", F.col("weight").alias("wn"))
            d = o.join(nw, ["src", "dst"], "full")
            kept = d.where(
                F.col("wo").isNotNull() & F.col("wn").isNotNull()
            ).select("src", "dst", F.col("wn").alias("weight"))
            gone = d.where(F.col("wn").isNull()).select(
                "src", "dst", F.col("wo").alias("weight")
            )
            born = d.where(F.col("wo").isNull()).select(
                "src", "dst", F.col("wn").alias("weight")
            )
            # reference order: weight updates, structural removals, additions
            emit(edge_events(kept, "EDGE_WEIGHT_UPDATE"))
            emit(edge_events(gone, "EDGE_REMOVAL"))
            emit(edge_events(born, "EDGE_ADDITION"))
            timestep()

            self.points = pts2
            self.edges = new
            self.next_id += n_churn
            self.step += 1

        events = out[0]
        for df in out[1:]:
            events = events.unionByName(df)
        return events.orderBy("seq", "u", "v")


def chung_lu_alam_et_al(
    spark: SparkSession, degree_sequence: list[int], seed: int = 42
) -> Graph:
    """ChungLuGeneratorAlamEtAl (reference
    ``generators/ChungLuGeneratorAlamEtAl.cpp:12``): the degree-grouped
    Chung-Lu sampler of Alam et al. — vertices are bucketed by their
    (capped at n−1) target degree and relabeled so each degree group is
    contiguous in ascending degree order (cpp:44-56); for each group
    pair (i, j) every cross pair is an independent Bernoulli with the
    CONSTANT probability p = d_i·d_j / Σd (same-group pairs use the
    triangular pair space, cpp:87-92).

    Spark shape: the reference's sequential geometric edge-skipping is a
     1-core trick to avoid enumerating the pair space; here each group
    pair becomes a ``spark.range`` over its pair count with a hashed
    Bernoulli filter — identical model, embarrassingly parallel, and the
    group-pair table (≤ distinct-degrees², tiny) is the only driver
    state. Same-group pair index x decodes via the triangular formula
    u = floor((1+sqrt(1+8x))/2), v = x − u(u−1)/2 (cpp:88).
    The output node ids are the reference's relabeled ids (ascending
    degree); like the reference, only the degree DISTRIBUTION of the
    input sequence is preserved, not per-index degrees."""
    n = len(degree_sequence)
    if n == 0:
        return Graph(
            spark.createDataFrame([], "src LONG, dst LONG"), directed=False
        )
    capped = [min(int(d), n - 1) for d in degree_sequence]
    sum_deg = sum(capped)
    # buckets: degree -> count, groups contiguous ascending by degree
    from collections import Counter

    buckets = sorted(Counter(capped).items())
    groups = []  # (degree, size, start_index)
    start = 0
    for d, c in buckets:
        groups.append((d, c, start))
        start += c
    if sum_deg == 0:
        return Graph(
            spark.createDataFrame([], "src LONG, dst LONG"),
            vertices=spark.range(n).select("id"),
            directed=False,
        )

    parts = []
    for i, (di, ci, si) in enumerate(groups):
        for j, (dj, cj, sj) in enumerate(groups[: i + 1]):
            p = min(1.0, (di * dj) / sum_deg)
            if p <= 0.0:
                continue
            space = ci * (ci - 1) // 2 if i == j else ci * cj
            if space == 0:
                continue
            cand = spark.range(space).select(F.col("id").alias("x"))
            keep = cand.where(
                (
                    F.pmod(
                        F.xxhash64("x", F.lit(i), F.lit(j), F.lit(seed)),
                        F.lit(1_000_000_007),
                    ).cast("double")
                    / 1_000_000_007.0
                )
                < p
            )
            if i == j:
                u = F.floor((1.0 + F.sqrt(1.0 + 8.0 * F.col("x"))) / 2.0).cast("long")
                v = (F.col("x") - u * (u - 1) / 2).cast("long")
                part = keep.select(
                    (F.lit(si) + u).alias("a"), (F.lit(si) + v).alias("b")
                )
            else:
                part = keep.select(
                    (F.lit(si) + F.floor(F.col("x") / cj)).cast("long").alias("a"),
                    (F.lit(sj) + F.pmod(F.col("x"), F.lit(cj))).cast("long").alias("b"),
                )
            parts.append(
                part.select(
                    F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
                )
            )
    if not parts:
        # sum_deg > 0 but no group pair has both positive probability and
        # a non-empty pair space (e.g. degree_sequence=[1, 0]): the model
        # can emit no edge — mirror the sum_deg==0 empty-graph branch
        return Graph(
            spark.createDataFrame([], "src LONG, dst LONG"),
            vertices=spark.range(n).select("id"),
            directed=False,
        )
    edges = parts[0]
    for df in parts[1:]:
        edges = edges.unionByName(df)
    return Graph(
        edges.where(F.col("src") != F.col("dst")),
        vertices=spark.range(n).select("id"),
        directed=False,
    )
