"""Seeded community expansion family: GCE (M/L), TCE, LocalTightness-
Expansion, LocalT, TwoPhaseL, CliqueDetect, CombinedSCD, plus
SCDGroundTruthComparison.

Parity targets (reference ``scd/``):
- GCE.cpp:24-117 (greedy ΔM / ΔL expansion),
- TCE.cpp:47-260 (triangle-weighted edge score, conductance accept),
- LocalTightnessExpansion.cpp:120-300 (triangle similarity, α rule),
- LocalT.cpp:20-195 (internal/external triangle score),
- TwoPhaseL.cpp:30-120 (L = Lin/Lex add phase + removal phase),
- CliqueDetect.cpp:17-40 (max clique in the seed's ego net),
- CombinedSCD.hpp:16 (first's output seeds the second),
- SCDGroundTruthComparison.cpp (per-seed precision/recall/F1/jaccard).

Spark shape: these algorithms are LOCAL by construction — the community
and its shell live inside a small ball around the seed. The distributed
plan therefore (1) grows a radius-R ball around every seed in ONE batched
frontier BFS (seed rides in the key: k seeds cost one BFS), (2) ships
each seed's induced ball edges + node attributes to an executor through
cogrouped ``applyInPandas`` (Arrow-batched), and (3) runs the faithful
sequential expansion there. Per-seed work is bounded by the ball, and
seeds scale out horizontally — the same contract as the reference's
"selective" detectors, re-expressed for a cluster.

Exactness contract: candidates are restricted to ball distance ≤ R−1, so
every touched node's full neighborhood (and hence intDeg/extDeg/triangle
counts) is inside the ball; true global degrees ride along as node
attributes. Tie-breaks use smallest node id where the reference draws
uniformly at random (documented divergence — the reference itself is
run-to-run nondeterministic there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint

_BALL_SCHEMA = "seed BIGINT, src BIGINT, dst BIGINT"
_NODE_SCHEMA = "seed BIGINT, id BIGINT, dist BIGINT, deg BIGINT"
_OUT_SCHEMA = "seed BIGINT, id BIGINT"


def seed_balls(eu: DataFrame, seeds: list[int], radius: int = 3):
    """Batched radius-R balls: returns (nodes, edges) DataFrames —
    nodes (seed, id, dist, deg) and induced edges (seed, src, dst)."""
    from icebug_spark.operators.traversal import multi_source_bfs

    spark = eu.sparkSession
    e = checkpoint(eu.select("src", "dst"))
    deg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    ball = multi_source_bfs(e, seeds, max_hops=radius).withColumnRenamed(
        "source", "seed"
    )
    nodes = ball.join(deg, "id").select("seed", "id", "dist", "deg")
    b_src = ball.select("seed", F.col("id").alias("src"))
    b_dst = ball.select("seed", F.col("id").alias("dst"))
    edges = (
        e.join(b_src, "src")
        .join(b_dst, ["seed", "dst"])
        .select("seed", "src", "dst")
    )
    return checkpoint(nodes), checkpoint(edges)


def _build_local(edge_pdf, node_pdf):
    """adjacency dict, true-degree dict, allowed set (dist ≤ R−1), seed."""
    adj: dict[int, set[int]] = {}
    for s, d in zip(edge_pdf["src"].values, edge_pdf["dst"].values):
        adj.setdefault(int(s), set()).add(int(d))
    truedeg = dict(
        zip(node_pdf["id"].astype(int), node_pdf["deg"].astype(int))
    )
    dist = dict(zip(node_pdf["id"].astype(int), node_pdf["dist"].astype(int)))
    rmax = max(dist.values()) if len(dist) else 0
    allowed = {v for v, dv in dist.items() if dv <= max(rmax - 1, 1)}
    seeds = [v for v, dv in dist.items() if dv == 0]
    return adj, truedeg, allowed, seeds


def _cut_vol(C, adj, truedeg):
    w_in = sum(len(adj.get(u, ()) & C) for u in C) // 2
    vol = sum(truedeg.get(u, 0) for u in C)
    return vol - 2 * w_in, w_in


def _gce(adj, truedeg, allowed, seeds, objective="M", max_size=500):
    """GCE.cpp:24-117: greedy add argmax ΔQ (> 0) until no improvement."""
    C = set(seeds)

    def q_of(Cs):
        cut, w_in = _cut_vol(Cs, adj, truedeg)
        if objective == "M":
            return w_in / cut if cut else float("inf")
        boundary = sum(
            1 for u in Cs if truedeg.get(u, 0) > len(adj.get(u, ()) & Cs)
        )
        denom = len(Cs) * cut
        return (2.0 * w_in * boundary) / denom if denom else float("inf")

    cur = q_of(C)
    while len(C) < max_size:
        shell = sorted(
            {v for u in C for v in adj.get(u, ()) if v not in C and v in allowed}
        )
        best, best_dq = None, 0.0
        for v in shell:
            dq = q_of(C | {v}) - cur
            if dq > best_dq:
                best, best_dq = v, dq
        if best is None:
            break
        C.add(best)
        cur += best_dq
    return C


def _tce(adj, truedeg, allowed, seeds, jaccard=False, max_size=500):
    """TCE.cpp:47-260 (unweighted): triangle-boosted edge score; shell is
    an addressable max-heap on accumulated score; accept a popped node iff
    conductance improves. Rejected nodes re-enter when their score grows."""
    C = set(seeds)
    score: dict[int, float] = {}
    cut_edges: dict[int, int] = {}
    consider: set[int] = set()

    def on_add(u):
        nu = adj.get(u, set())
        du = truedeg.get(u, 1)
        for v in nu:
            if v in C or v not in allowed:
                continue
            nom = 1 + len(nu & adj.get(v, set()))
            dv = truedeg.get(v, 1)
            denom = (du + dv - nom) if jaccard else min(du, dv)
            if denom > 0 and dv > 0:
                score[v] = score.get(v, 0.0) + nom / (denom * dv)
            cut_edges[v] = cut_edges.get(v, 0) + 1
            consider.add(v)

    for u in C:
        on_add(u)
    cut, _ = _cut_vol(C, adj, truedeg)
    vol = sum(truedeg.get(u, 0) for u in C)
    while consider and len(C) < max_size:
        # extract max score (tie → smallest id, deterministic)
        m = min(consider, key=lambda v: (-score.get(v, 0.0), v))
        consider.discard(m)
        dm = truedeg.get(m, 0)
        cut_new = cut + dm - 2 * cut_edges.get(m, 0)
        vol_new = vol + dm
        if vol > 0 and vol_new > 0 and (cut_new / vol_new) < (cut / vol):
            C.add(m)
            on_add(m)
            cut, vol = cut_new, vol_new
    return C


def _lte(adj, truedeg, allowed, seeds, alpha=1.0, max_size=500):
    """LocalTightnessExpansion.cpp:120-300 (unweighted): similarity
    s(u,v) = (2 + t(u,v)) / (r(u)·r(v)), r(u) = √(1+deg(u)); pop shell
    node with max internal similarity X; accept iff
    E/I − (α·Y − X) / (2X) > 0."""
    import math

    C = set(seeds)
    r = {v: math.sqrt(1.0 + truedeg.get(v, 0)) for v in truedeg}

    def sim(u, v):
        t = len(adj.get(u, set()) & adj.get(v, set()))
        return (2.0 + t) / (r.get(u, 1.0) * r.get(v, 1.0))

    def x_of(v, Cs):
        return sum(sim(u, v) for u in adj.get(v, ()) if u in Cs)

    def y_of(v, Cs):
        return sum(sim(u, v) for u in adj.get(v, ()) if u not in Cs)

    I = 2.0 * sum(
        sim(u, v) for u in C for v in adj.get(u, ()) if v in C and u < v
    )
    E = sum(x_of(v, C) for v in set().union(*[adj.get(u, set()) for u in C]) - C) if C else 0.0
    consider = {
        v for u in C for v in adj.get(u, ()) if v not in C and v in allowed
    }
    while consider and len(C) < max_size:
        m = min(consider, key=lambda v: (-x_of(v, C), v))
        consider.discard(m)
        X, Y = x_of(m, C), y_of(m, C)
        if X <= 0:
            continue
        accept = (I == 0) or (E / I - (alpha * Y - X) / (2.0 * X) > 0)
        if accept:
            C.add(m)
            I += 2.0 * X
            E += Y - X
            for v in adj.get(m, ()):
                if v not in C and v in allowed:
                    consider.add(v)
    return C


def _local_t(adj, truedeg, allowed, seeds, max_size=500):
    """LocalT.cpp:140-195: score = max(0, T_int·(T_int − T_ext)); add the
    shell node maximizing the new score (tie → fewer external triangles);
    stop when no candidate beats the current score."""

    def tri_counts(Cs):
        t_int = t_ext = 0
        for u in Cs:
            for v in adj.get(u, ()):
                common = adj.get(u, set()) & adj.get(v, set())
                if v in Cs:
                    for w in common:
                        if w in Cs and u < v < w:
                            t_int += 1
                else:
                    for w in common:
                        if w not in Cs and v < w:
                            t_ext += 1  # exactly one endpoint (u) inside
        return t_int, t_ext

    def score(ti, te):
        return max(0, ti * (ti - te))

    C = set(seeds)
    while len(C) < max_size:
        ti, te = tri_counts(C)
        best = None
        best_key = (score(ti, te), float("inf"))
        shell = sorted(
            {v for u in C for v in adj.get(u, ()) if v not in C and v in allowed}
        )
        for v in shell:
            nti, nte = tri_counts(C | {v})
            ns = score(nti, nte)
            if ns > best_key[0] or (ns == best_key[0] and nte < best_key[1]):
                best, best_key = v, (ns, nte)
        if best is None:
            break
        C.add(best)
    return C


def _two_phase_l(adj, truedeg, allowed, seeds, max_size=500):
    """TwoPhaseL.cpp:30-120: phase 1 adds argmax L = Lin/Lex among
    candidates with Lin strictly improving; phase 2 removes nodes unless
    removal worsens both Lin and Lex. Empty set if a seed is dropped."""

    def stats(Cs):
        cut, w_in = _cut_vol(Cs, adj, truedeg)
        boundary = sum(
            1 for u in Cs if truedeg.get(u, 0) > len(adj.get(u, ()) & Cs)
        )
        lin = 2.0 * w_in / len(Cs) if Cs else 0.0
        lex = cut / boundary if boundary else 0.0
        return lin, lex

    C = set(seeds)
    lin, lex = stats(C)
    while len(C) < max_size:
        shell = sorted(
            {v for u in C for v in adj.get(u, ()) if v not in C and v in allowed}
        )
        best, best_l = None, (lin / lex) if lex else 0.0
        for v in shell:
            nlin, nlex = stats(C | {v})
            if nlin > lin and nlex > 0:
                nl = nlin / nlex
                if nl > best_l:
                    best, best_l = v, nl
        if best is None:
            break
        C.add(best)
        lin, lex = stats(C)
    for v in sorted(C):
        if len(C) <= 1:
            break
        nlin, nlex = stats(C - {v})
        if not (lin > nlin and lex < nlex):
            C.discard(v)
            lin, lex = stats(C)
    if any(s not in C for s in seeds):
        return set()
    return C


def _max_clique(nodes, adj):
    """Deterministic Bron-Kerbosch with pivoting; returns the max-size
    clique (lexicographically smallest among ties)."""
    best: list[int] = []

    def bk(Rc, Pc, Xc):
        nonlocal best
        if not Pc and not Xc:
            cand = sorted(Rc)
            if len(cand) > len(best) or (
                len(cand) == len(best) and cand < best
            ):
                best = cand
            return
        pivot = max(Pc | Xc, key=lambda u: (len(adj.get(u, set()) & Pc), -u))
        for v in sorted(Pc - adj.get(pivot, set())):
            bk(Rc | {v}, Pc & adj.get(v, set()), Xc & adj.get(v, set()))
            Pc = Pc - {v}
            Xc = Xc | {v}

    bk(set(), set(nodes), set())
    return best


def _clique_detect(adj, truedeg, allowed, seeds):
    """CliqueDetect.cpp:17-40: the maximum clique inside the seed's
    neighborhood, plus the seed."""
    s = seeds[0]
    nbrs = adj.get(s, set())
    sub = {v: adj.get(v, set()) & nbrs for v in nbrs}
    return set(_max_clique(nbrs, sub)) | {s}


def _lfm_local(adj, truedeg, allowed, seeds, alpha=1.0, max_size=500):
    """LFMLocal (``scd/LFMLocal.hpp:16``, Lancichinetti-Fortunato-Kertesz
    fitness): f(C) = k_in / (k_in + k_out)^alpha. Greedy ADD the shell
    node with the best positive fitness gain, then REMOVE any member
    whose deletion raises fitness (the LFM add/remove sweep), until
    neither step improves."""
    C = set(seeds)

    def fit(Cs):
        if not Cs:
            return 0.0
        cut, w_in = _cut_vol(Cs, adj, truedeg)
        denom = (2.0 * w_in + cut) ** alpha
        return (2.0 * w_in) / denom if denom else 0.0

    cur = fit(C)
    improved = True
    while improved and len(C) < max_size:
        improved = False
        shell = sorted(
            {v for u in C for v in adj.get(u, ()) if v not in C and v in allowed}
        )
        best, best_f = None, cur
        for v in shell:
            f2 = fit(C | {v})
            if f2 > best_f + 1e-12:
                best, best_f = v, f2
        if best is not None:
            C.add(best)
            cur = best_f
            improved = True
            # removal sweep (never the seeds)
            removed = True
            while removed:
                removed = False
                for u in sorted(C - set(seeds)):
                    f2 = fit(C - {u})
                    if f2 > cur + 1e-12:
                        C.discard(u)
                        cur = f2
                        removed = True
    return C


_EXPANDERS = {
    "lfm_local": lambda a, d, al, s, ms=500: _lfm_local(a, d, al, s, max_size=ms),
    "gce_m": lambda a, d, al, s, ms=500: _gce(a, d, al, s, objective="M", max_size=ms),
    "gce_l": lambda a, d, al, s, ms=500: _gce(a, d, al, s, objective="L", max_size=ms),
    "tce": lambda a, d, al, s, ms=500: _tce(a, d, al, s, max_size=ms),
    "lte": lambda a, d, al, s, ms=500: _lte(a, d, al, s, max_size=ms),
    "local_t": lambda a, d, al, s, ms=500: _local_t(a, d, al, s, max_size=ms),
    "two_phase_l": lambda a, d, al, s, ms=500: _two_phase_l(a, d, al, s, max_size=ms),
    "clique": lambda a, d, al, s, ms=500: _clique_detect(a, d, al, s),
}


def expand_communities(
    eu: DataFrame,
    seeds: list[int],
    algo: str = "gce_m",
    radius: int = 3,
    max_size: int = 500,
    balls: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Expand one community per seed → (seed, id). ``algo`` ∈
    gce_m | gce_l | tce | lte | local_t | two_phase_l | clique.
    ``balls``: pre-computed ``seed_balls(eu, seeds, radius)`` output,
    shared across algorithms to amortize the batched BFS."""
    if algo not in _EXPANDERS:
        raise ValueError(f"unknown SCD algo {algo!r}")
    nodes, edges = balls if balls is not None else seed_balls(eu, seeds, radius)
    fn = _EXPANDERS[algo]

    def run(key, edge_pdf, node_pdf):
        import pandas as pd

        if len(node_pdf) == 0:
            return pd.DataFrame({"seed": [], "id": []})
        adj, truedeg, allowed, seed_nodes = _build_local(edge_pdf, node_pdf)
        C = fn(adj, truedeg, allowed, seed_nodes, max_size)
        return pd.DataFrame({"seed": int(key[0]), "id": sorted(C)})

    return (
        edges.groupBy("seed")
        .cogroup(nodes.groupBy("seed"))
        .applyInPandas(run, schema=_OUT_SCHEMA)
    )


def combined_scd(
    eu: DataFrame,
    seeds: list[int],
    first: str = "clique",
    second: str = "gce_m",
    radius: int = 3,
    max_size: int = 500,
) -> DataFrame:
    """CombinedSCD.hpp:16: run ``first``, use its community as the seed
    set of ``second`` — one cogrouped pass, both stages per executor."""
    if first not in _EXPANDERS or second not in _EXPANDERS:
        raise ValueError("unknown SCD algo")
    nodes, edges = seed_balls(eu, seeds, radius)
    f1, f2 = _EXPANDERS[first], _EXPANDERS[second]

    def run(key, edge_pdf, node_pdf):
        import pandas as pd

        if len(node_pdf) == 0:
            return pd.DataFrame({"seed": [], "id": []})
        adj, truedeg, allowed, seed_nodes = _build_local(edge_pdf, node_pdf)
        mid = f1(adj, truedeg, allowed, seed_nodes, max_size)
        C = f2(adj, truedeg, allowed, sorted(mid), max_size) if mid else set()
        return pd.DataFrame({"seed": int(key[0]), "id": sorted(C)})

    return (
        edges.groupBy("seed")
        .cogroup(nodes.groupBy("seed"))
        .applyInPandas(run, schema=_OUT_SCHEMA)
    )


def ground_truth_comparison(
    communities: DataFrame, ground_truth: DataFrame
) -> DataFrame:
    """SCDGroundTruthComparison.cpp: per seed, score the detected
    community against the ground-truth subset(s) containing the seed —
    keep the best-F1 match. Pure joins/aggregates (fully distributed):
    → (seed, subset, tp, detected_size, truth_size, precision, recall,
    f1, jaccard)."""
    det = communities.select("seed", "id")
    gt = ground_truth.select("id", "subset")
    seed_subsets = (
        det.where(F.col("seed") == F.col("id"))
        .join(gt, "id")
        .select("seed", "subset")
    )
    truth = seed_subsets.join(gt, "subset").select(
        "seed", "subset", F.col("id").alias("tid")
    )
    truth_sizes = truth.groupBy("seed", "subset").agg(
        F.count(F.lit(1)).alias("truth_size")
    )
    det_sizes = det.groupBy("seed").agg(F.count(F.lit(1)).alias("detected_size"))
    tp = (
        truth.join(det.withColumnRenamed("id", "tid"), ["seed", "tid"])
        .groupBy("seed", "subset")
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    scored = (
        truth_sizes.join(tp, ["seed", "subset"], "left")
        .na.fill({"tp": 0})
        .join(det_sizes, "seed")
        .withColumn("precision", F.col("tp") / F.col("detected_size"))
        .withColumn("recall", F.col("tp") / F.col("truth_size"))
        .withColumn(
            "f1",
            F.when(
                F.col("precision") + F.col("recall") > 0,
                2 * F.col("precision") * F.col("recall")
                / (F.col("precision") + F.col("recall")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "jaccard",
            F.col("tp")
            / (F.col("detected_size") + F.col("truth_size") - F.col("tp")),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("seed").orderBy(F.desc("f1"), F.asc("subset"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "seed", "subset", "tp", "detected_size", "truth_size",
            F.round("precision", 6).alias("precision"),
            F.round("recall", 6).alias("recall"),
            F.round("f1", 6).alias("f1"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
