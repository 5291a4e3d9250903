"""Round-10 operator certificates: q164 SpectralPartitioner
(community.pyx:2083), q165 getSparsifiedGraphOfSize parameterization
search (sparsification.pyx:762,845,919).

Eigensolver sign/basis conventions make raw spectral partitions
non-portable to DuckDB, so q164 certifies the Spark partition against a
driver-side numpy transcription of the reference recursion run on the
SAME eigenvectors (the eigensolver itself is pinned by q150's residual
certificate). q165 certifies each method's chosen threshold is the true
argmin of |kept/m − target| by brute force over every candidate
threshold on the driver."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.catalog import derived_edges_undirected
from icebug_spark.plans.iterate import checkpoint


_SUB_EU_CACHE: dict[tuple[str, str], DataFrame] = {}


def _sub_eu(spark: SparkSession, sf: str) -> DataFrame:
    # the q148/q150 id%5 subgraph: keeps the guarded dense eigen path
    # (and the driver brute forces) comfortably inside budget at sf0.1;
    # memoized per session like the catalog's derived tables so q164 and
    # q165 build it once between them
    key = (spark.sparkContext.applicationId, sf)
    if key not in _SUB_EU_CACHE:
        _SUB_EU_CACHE[key] = checkpoint(
            derived_edges_undirected(spark, sf)
            .where(
                (F.col("src") % 5 == 0)
                & (F.col("dst") % 5 == 0)
                & (F.col("src") != F.col("dst"))
            )
        )
    return _SUB_EU_CACHE[key]


_SP_COUNT = 6


def _transcribe_reference(ids, vec_by_id, count, balanced):
    """Reference SpectralPartitioner recursion (community.pyx:2119-2244)
    over collected (id → eigenvector-array) rows; returns the partition
    as a sorted list of sorted id tuples (groupings, labels dropped)."""
    k = len(next(iter(vec_by_id.values()))) if vec_by_id else 0
    parts: dict[int, list[int]] = {}
    nxt = {"n": 0}

    def quantiles(comp, vertices, cnt):
        values = sorted(vec_by_id[v][comp] for v in vertices)
        sections = cnt + 1
        return [
            values[math.floor(len(values) * i / sections)]
            for i in range(1, sections)
        ]

    def vertices_of(part):
        return list(ids) if part is None else parts.pop(part)

    def trisect(part=None):
        vs = vertices_of(part)
        comp = min(1, k - 1)
        q = quantiles(comp, vs, 2)
        pa, pb, pc = nxt["n"], nxt["n"] + 1, nxt["n"] + 2
        nxt["n"] += 3
        parts[pa], parts[pb], parts[pc] = [], [], []
        for v in vs:
            x = vec_by_id[v][comp]
            if x < q[0]:
                parts[pa].append(v)
            elif x < q[1]:
                parts[pb].append(v)
            else:
                parts[pc].append(v)

    def bisect(cnt, part=None, iteration=1):
        if cnt == 1:
            return
        if cnt == 3:
            trisect(part)
            return
        vs = vertices_of(part)
        comp = min(iteration, k - 1)
        if balanced:
            split = quantiles(comp, vs, 1)[0]
        else:
            split = sum(vec_by_id[v][comp] for v in vs) / len(vs)
        pa, pb = nxt["n"], nxt["n"] + 1
        nxt["n"] += 2
        parts[pa] = [v for v in vs if vec_by_id[v][comp] < split]
        parts[pb] = [v for v in vs if not (vec_by_id[v][comp] < split)]
        if cnt > 2:
            if cnt % 2 == 0:
                bisect(cnt // 2, pa, iteration + 1)
                bisect(cnt // 2, pb, iteration + 1)
            else:
                nc = (cnt - 1) // 2
                if nc > 2:
                    bisect(nc, pa, iteration + 1)
                    bisect(nc + 1, pb, iteration + 1)
                else:
                    bisect(nc, pa, iteration + 1)
                    trisect(pb)

    bisect(count)
    return sorted(tuple(sorted(v)) for v in parts.values() if v)


def q164(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.spectrum import (
        laplacian_eigenvectors,
        spectral_partition,
    )

    eu = _sub_eu(spark, sf)
    cutoff = int(math.ceil(math.log2(_SP_COUNT))) + 1
    eig = laplacian_eigenvectors(eu, cutoff=cutoff, reverse=True)
    # ONE eigensolve: the operator takes the pairs, the transcription
    # reads the same collected vectors
    part = spectral_partition(eu, _SP_COUNT, eigenvectors=eig)
    groups: dict[int, list[int]] = {}
    for r in part.collect():
        groups.setdefault(int(r["subset"]), []).append(int(r["id"]))
    got = sorted(tuple(sorted(v)) for v in groups.values())
    vec_by_id = {int(r["id"]): list(r["vec"]) for r in eig[1].collect()}
    ids = sorted(vec_by_id)
    want = _transcribe_reference(ids, vec_by_id, _SP_COUNT, balanced=True)
    covered = sorted(x for g in got for x in g)
    return spark.createDataFrame(
        [
            (
                got == want,
                covered == ids,
                1 <= len(got) <= _SP_COUNT,
            )
        ],
        "matches_reference BOOLEAN, covers_all BOOLEAN, part_count_valid BOOLEAN",
    )


Q164_SQL = (
    "SELECT TRUE AS matches_reference, TRUE AS covers_all, "
    "TRUE AS part_count_valid"
)


_RATIO = 0.35


def q165(spark: SparkSession, sf: str) -> DataFrame:
    from icebug_spark.operators.edgescores import (
        local_degree_score,
        random_edge_score,
        simmelian_overlap_score,
    )
    from icebug_spark.operators.sparsify2 import (
        local_similarity_score,
        sparsify_to_size,
    )

    eu = _sub_eu(spark, sf)
    checks = []
    within = False
    for meth, score_fn, col, domain in (
        ("random", random_edge_score, "rand_score", None),
        ("local_degree", local_degree_score, "ld_score", None),
        ("local_similarity", local_similarity_score, "ls_score", None),
        (
            "simmelian_parametric",
            lambda g: simmelian_overlap_score(g, max_rank=10),
            "overlap",
            (0, 10),
        ),
    ):
        # each score table is computed ONCE: the ratio search, the kept
        # count, and the brute-force histogram all read the checkpoint
        scored = checkpoint(score_fn(eu))
        kept = sparsify_to_size(
            scored, col, _RATIO, above=True, int_domain=domain
        ).count()
        # independent brute force: every candidate threshold's kept
        # ratio, straight off a collected per-score histogram
        hist = sorted(
            (float(r[col]), int(r["c"]))
            for r in scored.groupBy(col).agg(F.count(F.lit(1)).alias("c")).collect()
        )
        m = sum(c for _v, c in hist)
        cands = (
            [float(i) for i in range(domain[0], domain[1] + 1)]
            if domain
            else [v for v, _c in hist]
        )
        dists = [
            abs(sum(c for v, c in hist if v >= t) / m - _RATIO)
            for t in cands
            if sum(c for v, c in hist if v >= t) > 0
        ]
        checks.append(abs(kept / m - _RATIO) <= min(dists) + 1e-12)
        if meth == "random":
            # unique hash scores ⇒ the inversion must land within the
            # CDF's 1/m granularity of the requested ratio
            within = abs(kept / m - _RATIO) <= 2.0 / m
    return spark.createDataFrame(
        [(checks[0], checks[1], checks[2], checks[3], bool(within))],
        "random_opt BOOLEAN, local_degree_opt BOOLEAN, "
        "local_similarity_opt BOOLEAN, parametric_opt BOOLEAN, "
        "random_within_granularity BOOLEAN",
    )


Q165_SQL = (
    "SELECT TRUE AS random_opt, TRUE AS local_degree_opt, "
    "TRUE AS local_similarity_opt, TRUE AS parametric_opt, "
    "TRUE AS random_within_granularity"
)


ROUND10 = {
    "q164_spectral_partition": (q164, Q164_SQL),
    "q165_sparsify_to_size": (q165, Q165_SQL),
}
