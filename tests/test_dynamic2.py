"""Goldens for streaming/dynamic2.py (DynBFS / DynCC / AffectedNodes /
event application) — the incremental update must equal a static
recompute on the final graph, including the removal and mixed-batch
paths the oracle queries (q125/q130/q132, insertion-only) don't reach.

Reference parity: distance/DynBFS.hpp:19, components/
DynConnectedComponents.hpp:31, distance/AffectedNodes.hpp:17.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icebug_spark.operators.components import connected_components
from icebug_spark.operators.traversal import bfs_distances
from icebug_spark.streaming.dynamic2 import (
    apply_edge_events,
    dyn_bfs_update,
    dyn_cc_update,
    dyn_weakly_cc_update,
)


def _sym_df(spark, pairs):
    both = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sorted(set(both)), "src LONG, dst LONG")


def _batch(spark, rows):
    return spark.createDataFrame(rows, "type STRING, u LONG, v LONG")


def _dists(df):
    return {r["id"]: r["dist"] for r in df.collect()}


def _comps(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_dyn_bfs_removal_matches_static(spark):
    # path 0-1-2-3-4 plus a detour 1-5-3; removing edge (2,3) lengthens
    # dist(3), dist(4) via the detour — the invalidate-and-relax path.
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (1, 5), (5, 3)]
    old = _sym_df(spark, pairs)
    dist0 = bfs_distances(old, source=0)
    batch = _batch(spark, [("EDGE_REMOVAL", 2, 3), ("EDGE_REMOVAL", 3, 2)])
    new = apply_edge_events(old, batch)
    got = _dists(dyn_bfs_update(dist0, new, batch))
    want = _dists(bfs_distances(new, source=0))
    assert got == want
    assert got[3] == 3 and got[4] == 4


def test_dyn_cc_removal_splits(spark):
    # two triangles joined by a bridge; removing the bridge splits them
    pairs = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10), (2, 10)]
    old = _sym_df(spark, pairs)
    comp0 = connected_components(old)
    batch = _batch(spark, [("EDGE_REMOVAL", 2, 10), ("EDGE_REMOVAL", 10, 2)])
    new = apply_edge_events(old, batch)
    got = _comps(dyn_cc_update(comp0, new, batch))
    want = _comps(connected_components(new))
    assert got == want
    assert got[0] == 0 and got[10] == 10


def test_dyn_cc_mixed_batch_merge_and_split(spark):
    # batch removes the bridge AND adds an edge between the two other
    # components — the add-side merge must not be frozen away by the
    # removal-restricted relabel (the pre-round-5 defect).
    pairs = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10), (2, 10),
             (20, 21), (21, 22)]
    old = _sym_df(spark, pairs)
    comp0 = connected_components(old)
    batch = _batch(
        spark,
        [
            ("EDGE_REMOVAL", 2, 10), ("EDGE_REMOVAL", 10, 2),
            ("EDGE_ADDITION", 12, 20), ("EDGE_ADDITION", 20, 12),
        ],
    )
    new = apply_edge_events(old, batch)
    got = _comps(dyn_cc_update(comp0, new, batch))
    want = _comps(connected_components(new))
    assert got == want
    # triangle {0,1,2} alone; {10,11,12} merged with {20,21,22}
    assert got[0] == 0 and got[20] == 10 and got[12] == 10


def test_dyn_weakly_cc_directed_matches_static_symmetrized(spark):
    # DIRECTED input (one orientation only): two directed 3-cycles, a
    # one-way bridge, directed events. The maintained weak components
    # must equal a static CC of the symmetrized final graph.
    pairs = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10), (2, 10)]
    old = spark.createDataFrame(pairs, "src LONG, dst LONG")
    comp0 = connected_components(_sym_df(spark, pairs))
    batch = _batch(
        spark,
        [("EDGE_REMOVAL", 2, 10), ("EDGE_ADDITION", 12, 20)],
    )
    new = apply_edge_events(old, batch)
    got = _comps(dyn_weakly_cc_update(comp0, new, batch))
    want = _comps(
        connected_components(
            new.union(new.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        )
    )
    assert got == want
    # split at the bridge, merge with the fresh node 20
    assert got[0] == 0 and got[10] == 10 and got[20] == 10


def test_dyn_cc_addition_introduces_new_node(spark):
    # an added edge whose endpoint the old labeling never saw must be
    # absorbed, not dropped (coverage normalization).
    pairs = [(0, 1), (1, 2)]
    old = _sym_df(spark, pairs)
    comp0 = connected_components(old)
    batch = _batch(spark, [("EDGE_ADDITION", 2, 99), ("EDGE_ADDITION", 99, 2)])
    new = apply_edge_events(old, batch)
    got = _comps(dyn_cc_update(comp0, new, batch))
    want = _comps(connected_components(new))
    assert got == want
    assert got[99] == 0


def test_apply_edge_events_last_wins(spark):
    old = _sym_df(spark, [(0, 1)])
    batch = _batch(
        spark,
        [
            ("EDGE_ADDITION", 1, 2),
            ("EDGE_REMOVAL", 0, 1),
            ("EDGE_REMOVAL", 1, 0),
        ],
    )
    new = apply_edge_events(old, batch)
    assert sorted(map(tuple, new.collect())) == [(1, 2)]


def test_apply_edge_events_removal_wins_either_order(spark):
    # a removal wins over an addition of the same pair within one batch,
    # whatever the order of the two events
    old = _sym_df(spark, [(0, 1)])
    for rows in (
        [("EDGE_ADDITION", 1, 2), ("EDGE_REMOVAL", 1, 2)],
        [("EDGE_REMOVAL", 1, 2), ("EDGE_ADDITION", 1, 2)],
    ):
        new = apply_edge_events(old, _batch(spark, rows))
        assert sorted(map(tuple, new.collect())) == [(0, 1), (1, 0)]


def test_dyn_maintainers_mixed_batch_smoke(spark):
    # one mixed batch through all three entry points: removing (2,3)
    # lengthens dist(3) via the detour 1-5-6-3, removing the bridge (4,10)
    # splits {10,11,12} off, adding (12,20) merges it with {20,21}, and
    # adding (21,99) brings in a node new to the graph.
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (1, 5), (5, 6), (6, 3),
             (4, 10), (10, 11), (11, 12), (12, 10), (20, 21)]
    old = _sym_df(spark, pairs)
    # the old graph's state, written out: one component with min id 0
    # plus {20,21}, and hop distances from node 0
    comp0 = spark.createDataFrame(
        [(i, 0) for i in (0, 1, 2, 3, 4, 5, 6, 10, 11, 12)] + [(20, 20), (21, 20)],
        "id LONG, component LONG",
    )
    dist0 = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2), (5, 2), (3, 3), (6, 3), (4, 4), (10, 5), (11, 6), (12, 6)],
        "id LONG, dist LONG",
    )
    batch = _batch(
        spark,
        [
            ("EDGE_REMOVAL", 2, 3), ("EDGE_REMOVAL", 3, 2),
            ("EDGE_REMOVAL", 4, 10), ("EDGE_REMOVAL", 10, 4),
            ("EDGE_ADDITION", 12, 20), ("EDGE_ADDITION", 20, 12),
            ("EDGE_ADDITION", 21, 99), ("EDGE_ADDITION", 99, 21),
        ],
    )
    new = apply_edge_events(old, batch).localCheckpoint(eager=True)
    got_c = _comps(dyn_cc_update(comp0, new, batch))
    got_d = _dists(dyn_bfs_update(dist0, new, batch))
    assert got_c == _comps(connected_components(new))
    assert got_d == _dists(bfs_distances(new, source=0))
    assert got_c[0] == 0 and got_c[10] == 10 and got_c[21] == 10 and got_c[99] == 10
    assert got_d[3] == 4 and got_d[4] == 5 and 10 not in got_d


def test_dyn_bfs_mixed_batch(spark):
    # remove the short edge AND add a brand-new shortcut in one batch:
    # dists must match a static recompute on the final graph.
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]
    old = _sym_df(spark, pairs)
    dist0 = bfs_distances(old, source=0)
    batch = _batch(
        spark,
        [
            ("EDGE_REMOVAL", 1, 2), ("EDGE_REMOVAL", 2, 1),
            ("EDGE_ADDITION", 0, 4), ("EDGE_ADDITION", 4, 0),
        ],
    )
    new = apply_edge_events(old, batch)
    got = _dists(dyn_bfs_update(dist0, new, batch))
    want = _dists(bfs_distances(new, source=0))
    assert got == want
    # 2 and 3 now reached only via the new shortcut 0-4
    assert got[4] == 1 and got[3] == 2 and got[2] == 3


def test_dyn_bfs_update_caps_depth_at_max_rounds(spark):
    # path 0..4 from the source and a separate path 5..9; the added edge
    # (4, 5) hangs the second path at depth 5..9, past the cap of 4, so
    # like bfs_distances(max_hops=4) the update keeps nodes 0..4 only
    pairs = [(i, i + 1) for i in range(4)] + [(i, i + 1) for i in range(5, 9)]
    old = _sym_df(spark, pairs)
    dist0 = spark.createDataFrame([(i, i) for i in range(5)], "id LONG, dist LONG")
    batch = _batch(spark, [("EDGE_ADDITION", 4, 5), ("EDGE_ADDITION", 5, 4)])
    new = apply_edge_events(old, batch)
    got = _dists(dyn_bfs_update(dist0, new, batch, max_rounds=4))
    assert got == {i: i for i in range(5)}
    assert got == _dists(bfs_distances(new, source=0, max_hops=4))
