"""Jobs-per-round regression pins for the observed-metric fusion.

A loop round costs: one checkpoint job (which carries the convergence
metric via DataFrame.observe) plus the mirror() broadcast builds for its
joins. Before the fusion each round ALSO paid a separate count/aggregate
action (~1 extra job per round, ~4.5 jobs/level on BFS). These tests pin
the marginal jobs-per-level so a reintroduced per-round action fails CI.
"""

import pytest


def _bfs_jobs(spark, depth: int) -> int:
    from icebug_spark.operators.traversal import bfs_distances

    sc = spark.sparkContext
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(depth)], "src BIGINT, dst BIGINT"
    ).localCheckpoint(eager=True)
    group = f"bfs_jobs_{depth}"
    sc.setJobGroup(group, "probe")
    n = bfs_distances(e, 0).count()
    sc.setJobGroup(None, None)
    assert n == depth + 1
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bfs_marginal_jobs_per_level(spark):
    """Each extra BFS level must cost at most 4 extra jobs (1 fused
    checkpoint+metric, up to 2 broadcast builds, 1 slack). The pre-fusion
    shape cost ~4.5/level (separate frontier-count action per round)."""
    j4 = _bfs_jobs(spark, 4)
    j12 = _bfs_jobs(spark, 12)
    marginal = (j12 - j4) / 8.0
    assert marginal <= 4.0, f"jobs/level regressed: {marginal} (j4={j4}, j12={j12})"


def test_cc_marginal_jobs_per_round(spark):
    """Connected components: one fused checkpoint job + broadcast builds
    per min-label round; a path of length L converges in O(L) rounds."""
    from icebug_spark.operators.components import connected_components

    sc = spark.sparkContext

    def jobs(depth):
        eu = (
            spark.createDataFrame(
                [(i, i + 1) for i in range(depth)], "src BIGINT, dst BIGINT"
            )
            .union(
                spark.createDataFrame(
                    [(i + 1, i) for i in range(depth)], "src BIGINT, dst BIGINT"
                )
            )
            .localCheckpoint(eager=True)
        )
        group = f"cc_jobs_{depth}"
        sc.setJobGroup(group, "probe")
        n = connected_components(eu).where("component = 0").count()
        sc.setJobGroup(None, None)
        assert n == depth + 1
        return len(sc.statusTracker().getJobIdsForGroup(group))

    j4, j10 = jobs(4), jobs(10)
    marginal = (j10 - j4) / 6.0
    assert marginal <= 4.0, f"jobs/round regressed: {marginal} (j4={j4}, j10={j10})"


def _dyn_jobs(spark, kind: str, depth: int) -> int:
    """Jobs of one dynamic update on the path 0..depth plus a pendant edge
    (0, 1000) that the batch removes: the removal sends both maintainers
    down their restricted-recompute path, whose rounds grow with depth."""
    from icebug_spark.operators.components import connected_components
    from icebug_spark.operators.traversal import bfs_distances
    from icebug_spark.streaming.dynamic2 import (
        apply_edge_events,
        dyn_bfs_update,
        dyn_cc_update,
    )

    sc = spark.sparkContext
    pairs = [(i, i + 1) for i in range(depth)] + [(0, 1000)]
    old = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src BIGINT, dst BIGINT"
    ).localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        [("EDGE_REMOVAL", 0, 1000), ("EDGE_REMOVAL", 1000, 0)],
        "type STRING, u BIGINT, v BIGINT",
    ).localCheckpoint(eager=True)
    new = apply_edge_events(old, batch).localCheckpoint(eager=True)
    if kind == "cc":
        update, state = dyn_cc_update, connected_components(old)
    else:
        update, state = dyn_bfs_update, bfs_distances(old, 0)
    state = state.localCheckpoint(eager=True)
    group = f"dyn_{kind}_jobs_{depth}"
    sc.setJobGroup(group, "probe")
    n = len(update(state, new, batch).collect())
    sc.setJobGroup(None, None)
    assert n == depth + 1
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dyn_cc_marginal_jobs_per_round(spark):
    """dyn_cc_update on a removal batch relabels the path from its own
    ids, one connected_components round per unit of depth: at most 4
    jobs per round. The hand-rolled loop it replaced cost ~6.8."""
    marginal = (_dyn_jobs(spark, "cc", 10) - _dyn_jobs(spark, "cc", 4)) / 6.0
    assert marginal <= 4.0, f"dyn_cc jobs/round regressed: {marginal}"


def test_dyn_bfs_marginal_jobs_per_round(spark):
    """dyn_bfs_update on a removal batch runs two loops whose rounds grow
    with depth — the affected-cone hops and the relax rounds — so each
    unit of depth is two rounds: at most 4 jobs per round. The old
    two-checkpoint cone and full-outer relax cost ~7."""
    marginal = (_dyn_jobs(spark, "bfs", 10) - _dyn_jobs(spark, "bfs", 4)) / 12.0
    assert marginal <= 4.0, f"dyn_bfs jobs/round regressed: {marginal}"


#: marginal jobs per unit of path depth; the searches' own loops that
#: the two round kernels replaced cost 8.0, 11.0, 8.0, 8.5 and 13.0
_P2P_BOUNDS = {
    "astar": 4,
    "multi_target_dijkstra": 4,
    "multi_target_bfs": 5,
    "bidirectional_dijkstra": 7,
    "bidirectional_bfs": 10,
}


def _p2p_jobs(spark, search: str, depth: int) -> int:
    from icebug_spark.operators import pointtopoint as pp

    sc = spark.sparkContext
    ew = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(depth)], "src BIGINT, dst BIGINT, weight DOUBLE"
    ).localCheckpoint(eager=True)
    e = ew.select("src", "dst")
    run = {
        "astar": lambda: pp.astar(ew, 0, depth),
        "multi_target_dijkstra": lambda: pp.multi_target_dijkstra(ew, 0, [depth]),
        "multi_target_bfs": lambda: pp.multi_target_bfs(e, 0, [depth]),
        "bidirectional_dijkstra": lambda: pp.bidirectional_dijkstra(ew, 0, depth),
        "bidirectional_bfs": lambda: pp.bidirectional_bfs(e, 0, depth),
    }[search]
    group = f"{search}_jobs_{depth}"
    sc.setJobGroup(group, "probe")
    rows = run().collect()
    sc.setJobGroup(None, None)
    assert [r["dist"] for r in rows] == [depth]
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("search", sorted(_P2P_BOUNDS))
def test_point_to_point_marginal_jobs_per_round(spark, search):
    """Each unit of depth of a directed path costs each point-to-point
    search a bounded number of jobs: one relax or expand round (its
    checkpoint, the shuffle-map job of its aggregation and its mirror
    broadcast) with the stop-rule scalars observed on the checkpoint, plus
    the bidirectional searches' meeting-value collect."""
    marginal = (_p2p_jobs(spark, search, 8) - _p2p_jobs(spark, search, 4)) / 4.0
    bound = _P2P_BOUNDS[search]
    assert marginal <= bound, f"{search} jobs/round regressed: {marginal} > {bound}"
