"""Named Dynamic* generators — the reference's specific event-stream
generators, closing SURVEY §2.13's "specific dynamic generators" gap:

- :func:`dynamic_path_events` — ``generators/DynamicPathGenerator.cpp``:
  one new node chained to the previous per step.
- :func:`dynamic_dorogovtsev_mendes_events` —
  ``DynamicDorogovtsevMendesGenerator.cpp:8``: triangle seed, then each
  step one new node attaches to BOTH endpoints of a uniformly chosen
  existing edge.
- :func:`dynamic_barabasi_albert_events` —
  ``DynamicBarabasiAlbertGenerator.cpp:8``: k-node path seed, then each
  step one new node draws k DISTINCT degree-proportional targets
  (rejection until k distinct, like the reference's set insert loop).
- :class:`DynamicForestFire` — ``DynamicForestFireGenerator.cpp:10``:
  per step a new node picks a uniform ambassador and burns outward —
  at each active node, a geometric number of unvisited neighbors
  (probability p forward, p·r backward when directed) join the fire;
  the new node links to every burned node.
- :class:`DynamicHyperbolic` — ``DynamicHyperbolicGenerator.cpp:14``
  (T=0 threshold model): points move in the hyperbolic disk (the
  reference's cosh-space radial bounce + angular drift, moveNode
  cpp:...), edges are recomputed per step and DIFFED — the only
  generator family emitting EDGE_REMOVAL events.

Event schema = the engine's GraphEvent shape (``streaming/dynamic.py``):
(seq, type, u, v, w) with TIME_STEP markers between steps.

Spark shapes: path/DM/BA/forest-fire are INHERENTLY sequential growth
processes (each step depends on the full prior state) — the reference
runs them single-threaded too; they are driver loops over O(1)/O(burn)
state emitting a bounded event stream, with the batched/static
generators (``generators.barabasi_albert_batched``,
``generators2.dorogovtsev_mendes``, ``edgescores.forest_fire_score``)
as the scale-path counterparts. DynamicHyperbolic is fully
DISTRIBUTED: the point table, the movement, the banded threshold join,
and the add/remove diff are all DataFrame ops — it scales like the
static hyperbolic generator.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint
from icebug_spark.sources.generators2 import (
    hyperbolic_points,
    hyperbolic_threshold_edges,
)

EVENT_SCHEMA = "seq LONG, type STRING, u LONG, v LONG, w DOUBLE"


def _events_df(spark: SparkSession, rows: list) -> DataFrame:
    if not rows:
        return spark.createDataFrame([], EVENT_SCHEMA)
    return spark.createDataFrame(rows, EVENT_SCHEMA)


class _Emitter:
    def __init__(self):
        self.rows: list = []
        self.seq = 0

    def emit(self, typ, u=None, v=None, w=None):
        self.rows.append((self.seq, typ, u, v, w))
        self.seq += 1

    def node(self, u):
        self.emit("NODE_ADDITION", int(u))

    def edge(self, u, v, w=1.0):
        self.emit("EDGE_ADDITION", int(u), int(v), float(w))

    def remove(self, u, v):
        self.emit("EDGE_REMOVAL", int(u), int(v))

    def step(self):
        self.emit("TIME_STEP")


def dynamic_path_events(spark: SparkSession, n_steps: int) -> DataFrame:
    """DynamicPathGenerator: node 0, then per step node i+1 plus edge
    (i, i+1) and a TIME_STEP."""
    e = _Emitter()
    e.node(0)
    for i in range(n_steps):
        e.node(i + 1)
        e.edge(i, i + 1)
        e.step()
    return _events_df(spark, e.rows)


def dynamic_dorogovtsev_mendes_events(
    spark: SparkSession, n_steps: int, seed: int = 23
) -> DataFrame:
    """DynamicDorogovtsevMendesGenerator: triangle 0-1-2, then per step
    node u attaches to both endpoints of a hash-uniform existing edge
    (seeded stand-in for the reference's Aux::Random draw)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    e = _Emitter()
    edges = [(0, 1), (1, 2), (2, 0)]
    for u in (0, 1, 2):
        e.node(u)
    for a, b in edges:
        e.edge(a, b)
    e.step()
    u = 2
    for _ in range(n_steps):
        u += 1
        e.node(u)
        s, t = edges[int(rng.integers(0, len(edges)))]
        edges.append((s, u))
        edges.append((t, u))
        e.edge(u, s)
        e.edge(u, t)
        e.step()
    return _events_df(spark, e.rows)


def dynamic_barabasi_albert_events(
    spark: SparkSession, n_steps: int, k: int = 2, seed: int = 31
) -> DataFrame:
    """DynamicBarabasiAlbertGenerator: k-node path seed; per step the new
    node draws degree-proportional targets until k DISTINCT are found
    (the reference's unordered_set loop), each edge bumping degSum by 2."""
    import numpy as np

    if k < 1:
        raise ValueError("k must be at least 1")
    rng = np.random.default_rng(seed)
    e = _Emitter()
    deg: list[int] = [0] * k
    e.node(0)
    for i in range(1, k):
        e.node(i)
        e.edge(i, i - 1)
        deg[i] += 1
        deg[i - 1] += 1
    e.step()
    for _ in range(n_steps):
        u = len(deg)
        e.node(u)
        deg.append(0)
        d = np.asarray(deg[:u], dtype="float64")
        total = d.sum()
        targets: set[int] = set()
        while len(targets) < k:
            x = rng.uniform(0, total)
            targets.add(int(np.searchsorted(np.cumsum(d), x, side="right")))
        for v in sorted(targets):
            e.edge(u, v)
            deg[u] += 1
            deg[v] += 1
        e.step()
    return _events_df(spark, e.rows)


class DynamicForestFire:
    """DynamicForestFireGenerator: spreading-burn attachment. State is
    the adjacency of the grown graph; ``generate(n)`` returns the event
    DataFrame of the next n steps (streams compose across calls like the
    reference's repeated generate)."""

    def __init__(self, p: float, directed: bool = False, r: float = 1.0, seed: int = 41):
        import numpy as np

        self.p = p
        self.directed = directed
        self.r = r
        self.rng = np.random.default_rng(seed)
        self.fwd: dict[int, list[int]] = {}
        self.bwd: dict[int, list[int]] = {}
        self.n = 0
        self.first = True
        self.seq0 = 0

    def _burn(self, emitter: _Emitter) -> None:
        rng = self.rng
        ambassador = int(rng.integers(0, self.n))
        v = self.n
        self.n += 1
        self.fwd[v] = []
        self.bwd[v] = []
        emitter.node(v)
        visited = {ambassador}
        active = [ambassador]
        burned = [ambassador]
        while active:
            w = active.pop(0)

            def select(nbrs: list[int], prob: float) -> list[int]:
                valid = [x for x in nbrs if x not in visited]
                chosen = []
                while valid:
                    if rng.random() > prob:
                        break
                    i = int(rng.integers(0, len(valid)))
                    chosen.append(valid.pop(i))
                return chosen

            picked = select(self.fwd.get(w, []), self.p)
            if self.directed:
                picked += select(self.bwd.get(w, []), self.p * self.r)
            for x in picked:
                visited.add(x)
                active.append(x)
                burned.append(x)
        for w in burned:
            self.fwd[v].append(w)
            self.bwd[w].append(v)
            if not self.directed:
                self.fwd[w].append(v)
                self.bwd[v].append(w)
            emitter.edge(v, w)

    def generate(self, n_steps: int, spark: SparkSession) -> DataFrame:
        e = _Emitter()
        e.seq = self.seq0
        steps = n_steps
        if self.first and steps > 0:
            self.n = 1
            self.fwd[0] = []
            self.bwd[0] = []
            e.node(0)
            e.step()
            self.first = False
            steps -= 1
        for _ in range(steps):
            self._burn(e)
            e.step()
        self.seq0 = e.seq
        return _events_df(spark, e.rows)


class DynamicHyperbolic:
    """DynamicHyperbolicGenerator, T=0 threshold model, fully
    distributed: the point table carries (id, phi, r) plus fixed
    per-node movement vectors; each step a hash-chosen ~move_each_step
    fraction moves via the reference's cosh-space rule (radial bounce at
    the rim, center crossing flips the angle by π, angular drift scaled
    by 1/r), edges are recomputed by the shared banded threshold join
    and DIFFED against the previous step — EDGE_REMOVAL events for
    vanished pairs, EDGE_ADDITION for new ones, TIME_STEP after each."""

    def __init__(
        self,
        spark: SparkSession,
        n: int,
        avg_degree: float = 6.0,
        gamma: float = 3.0,
        move_each_step: float = 0.3,
        move_distance: float = 0.1,
        seed: int = 9,
        bands: int = 16,
    ):
        self.spark = spark
        self.alpha = (gamma - 1) / 2.0
        self.R = 2 * math.log(n / avg_degree) + 1.0 if n > avg_degree else 2.0
        self.move_each_step = move_each_step
        self.seed = seed
        self.bands = bands
        pts = hyperbolic_points(spark, n, self.alpha, self.R, seed)
        scale = 10.0

        def u01(*cols):
            return (
                F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007)).cast("double")
                / 1_000_000_007.0
            )

        self.pts = checkpoint(pts.select(
            "id",
            "phi",
            "r",
            ((u01(F.lit(seed), "id", F.lit(2)) * 2 - 1) * move_distance).alias(
                "mv_ang"
            ),
            (
                (u01(F.lit(seed), "id", F.lit(3)) * 2 - 1) * scale * move_distance
            ).alias("mv_rad"),
        ))
        self.edges = checkpoint(self._edges(self.pts))
        self.step_no = 0

    def _edges(self, pts: DataFrame) -> DataFrame:
        c = hyperbolic_threshold_edges(pts.select("id", "phi", "r"), self.R, self.bands)
        return c.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        ).distinct()

    def initial_edges(self) -> DataFrame:
        return self.edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))

    def _move(self, pts: DataFrame, step: int) -> DataFrame:
        """The reference moveNode in column form, applied to the
        hash-chosen subset for this step."""
        a, R = self.alpha, self.R
        moving = (
            F.pmod(F.xxhash64(F.lit(self.seed), F.lit(step), "id"), F.lit(1_000_000))
            / 1_000_000.0
        ) < self.move_each_step
        maxcdf = math.cosh(a * R)
        newcosh0 = F.cosh(a * F.col("r")) + a * F.col("mv_rad")
        hit_top = newcosh0 > maxcdf
        newcosh1 = F.when(hit_top, newcosh0 - 2 * (newcosh0 - maxcdf)).otherwise(
            newcosh0
        )
        hit_center = newcosh1 < 1.0
        newcosh = F.when(hit_center, newcosh1 + 2 * (1.0 - newcosh1)).otherwise(
            newcosh1
        )
        flip = F.when(
            hit_center,
            F.when(F.col("phi") > math.pi, F.col("phi") - math.pi).otherwise(
                F.col("phi") + math.pi
            ),
        ).otherwise(F.col("phi"))
        newr0 = F.acosh(F.greatest(newcosh, F.lit(1.0))) / a
        newr = F.least(newr0, F.lit(R * (1 - 1e-12)))
        newphi0 = flip + F.col("mv_ang") / newr
        newphi = F.pmod(newphi0, F.lit(2 * math.pi))
        bounce = hit_top | hit_center
        return pts.select(
            "id",
            F.when(moving, newphi).otherwise(F.col("phi")).alias("phi"),
            F.when(moving, newr).otherwise(F.col("r")).alias("r"),
            "mv_ang",
            F.when(moving & bounce, -F.col("mv_rad"))
            .otherwise(F.col("mv_rad"))
            .alias("mv_rad"),
        )

    def generate(self, n_steps: int) -> DataFrame:
        """→ event DataFrame for the next ``n_steps`` movements."""
        rows_parts: list[DataFrame] = []
        seq_base = 0
        for _ in range(n_steps):
            self.step_no += 1
            new_pts = checkpoint(self._move(self.pts, self.step_no))
            new_edges = checkpoint(self._edges(new_pts))
            added = new_edges.join(self.edges, ["u", "v"], "left_anti")
            removed = self.edges.join(new_edges, ["u", "v"], "left_anti")
            ev = (
                added.select(
                    F.lit(seq_base).alias("seq"),
                    F.lit("EDGE_ADDITION").alias("type"),
                    F.col("u"),
                    F.col("v"),
                    F.lit(1.0).alias("w"),
                )
                .unionByName(
                    removed.select(
                        F.lit(seq_base).alias("seq"),
                        F.lit("EDGE_REMOVAL").alias("type"),
                        F.col("u"),
                        F.col("v"),
                        F.lit(None).cast("double").alias("w"),
                    )
                )
                .unionByName(
                    self.spark.createDataFrame(
                        [(seq_base + 1, "TIME_STEP", None, None, None)], EVENT_SCHEMA
                    )
                )
            )
            rows_parts.append(ev)
            self.pts = new_pts
            self.edges = new_edges
            seq_base += 2
        out = rows_parts[0]
        for p in rows_parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("seq", "type", "u", "v")
