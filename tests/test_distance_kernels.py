"""Default-run checks of the traversals that run on traversal's round
kernels (``expand_round`` / ``sigma_round`` / ``relax_round``): a
point-to-point smoke test against the single-source searches, a σ-BFS and
Brandes smoke test, the ``dist`` dtype each search returns, and a lint
that every module of the package truncates lineage only through
``plans.iterate``."""

from __future__ import annotations

import pathlib

import pytest

from icebug_spark.operators import pointtopoint as pp
from icebug_spark.operators.centrality2 import bfs_sigma, brandes_deltas
from icebug_spark.operators.traversal import (
    bfs_distances,
    multi_source_bfs,
    sssp_weighted,
)
from icebug_spark.streaming.dynamic2 import apply_edge_events, dyn_bfs_update
from icebug_spark.streaming.dynamic3 import dyn_sssp_update

# 0-1-2-3 (weight 1 each) vs the one-hop shortcut 0-4 (weight 5) and 4-3;
# hop and weighted shortest paths to 3 differ. 7-8 is a separate component.
WEIGHTED = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 4, 5.0), (4, 3, 1.0), (7, 8, 1.0)]


def _frames(spark):
    both = WEIGHTED + [(b, a, w) for a, b, w in WEIGHTED]
    ew = spark.createDataFrame(both, "src BIGINT, dst BIGINT, weight DOUBLE")
    return ew, ew.select("src", "dst")


def _dist(df):
    return {r["id"]: r["dist"] for r in df.collect()}


def _dtype(df):
    return dict(df.dtypes)["dist"]


def test_point_to_point_searches_smoke(spark):
    ew, eu = _frames(spark)
    bfs, sssp = bfs_distances(eu, 0), sssp_weighted(ew, 0)
    hops, weighted = _dist(bfs), _dist(sssp)
    assert hops[3] == 2 and weighted[3] == pytest.approx(3.0)

    got = pp.bidirectional_bfs(eu, 0, 3).collect()
    assert [r["dist"] for r in got] == [hops[3]]
    got = pp.bidirectional_dijkstra(ew, 0, 3).collect()
    assert [r["dist"] for r in got] == [pytest.approx(weighted[3])]
    # admissible: hop distance to 3 times the minimum weight 1.0
    h = spark.createDataFrame(
        [(0, 2.0), (1, 2.0), (2, 1.0), (3, 0.0), (4, 1.0)], "id BIGINT, h DOUBLE"
    )
    got = pp.astar(ew, 0, 3, heuristic=h).collect()
    assert [r["dist"] for r in got] == [pytest.approx(weighted[3])]

    assert pp.bidirectional_bfs(eu, 7, 3).count() == 0

    mtb = pp.multi_target_bfs(eu, 0, [3, 4, 8])
    mtd = pp.multi_target_dijkstra(ew, 0, [3, 4, 8])
    assert _dist(mtb) == {3: 2, 4: 1}
    assert _dist(mtd) == {3: pytest.approx(3.0), 4: pytest.approx(4.0)}

    # the relax kernel has no typed infinity literal to fix the output
    # type: hop counts must stay BIGINT and weighted distances DOUBLE
    batch = spark.createDataFrame([("EDGE_ADDITION", 0, 2)], "type STRING, u BIGINT, v BIGINT")
    new = apply_edge_events(ew, batch)
    dyn_b = dyn_bfs_update(bfs, new, batch)
    dyn_s = dyn_sssp_update(sssp, new.selectExpr("src", "dst", "1.0 AS weight"), batch)
    assert _dist(dyn_b)[3] == 2 and _dist(dyn_s)[3] == pytest.approx(2.0)
    for df in (bfs, multi_source_bfs(eu, [7]), mtb, dyn_b):
        assert _dtype(df) == "bigint"
    for df in (sssp, dyn_s, mtd):
        assert _dtype(df) == "double"


# diamond 0-{1,2}-3 plus the tail 3-4: two shortest paths reach 3 and 4
DIAMOND = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]


def test_sigma_kernel_smoke(spark):
    """``bfs_sigma`` and ``brandes_deltas`` on ``traversal.sigma_round``:
    σ = 2 at the join node and below it, Brandes dependencies from 0, a
    repeated source counted once, and ``dist`` BIGINT / ``sigma`` DOUBLE."""
    eu = spark.createDataFrame(
        DIAMOND + [(b, a) for a, b in DIAMOND], "src BIGINT, dst BIGINT"
    )
    tab = bfs_sigma(eu, [0, 0])
    assert sorted(map(tuple, tab.collect())) == [
        (0, 0, 0, 1.0), (0, 1, 1, 1.0), (0, 2, 1, 1.0), (0, 3, 2, 2.0), (0, 4, 3, 2.0)
    ]
    assert dict(tab.dtypes)["dist"] == "bigint"
    assert dict(tab.dtypes)["sigma"] == "double"
    # δ(3) = σ3/σ4·1, δ(1) = δ(2) = σ1/σ3·(1+δ3), δ(0) = Σ σ0/σw·(1+δw)
    got = {r["id"]: r["delta"] for r in brandes_deltas(eu, [0]).collect()}
    assert got == pytest.approx({0: 4.0, 1: 1.0, 2: 1.0, 3: 1.0})


_REPO = pathlib.Path(__file__).resolve().parents[1]


@pytest.mark.parametrize(
    "path",
    sorted(
        p.relative_to(_REPO).as_posix()
        for p in (_REPO / "icebug_spark").rglob("*.py")
        if p != _REPO / "icebug_spark/plans/iterate.py"
    ),
)
def test_no_direct_local_checkpoint(path):
    """Every eager materialization in the package goes through
    ``plans.iterate`` (``checkpoint`` / ``pin`` and their ``*_observe``
    variants), which honour ``spark.icebug.reliableCheckpoint``; a direct
    ``localCheckpoint`` would silently ignore it."""
    assert "localCheckpoint(" not in (_REPO / path).read_text()
