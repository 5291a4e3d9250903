"""Size-adaptive vertex-mirror + reliable-checkpoint plumbing
(`plans/iterate.py`): the non-broadcast (shuffle-hash) path and the
reliable `checkpoint()` path must produce identical results to the
defaults — they are plan-shape choices, not semantics."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

# path: 0-1-2-3, plus isolated pair 4-5 (both directions)
EDGES = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2), (4, 5), (5, 4)]


@pytest.fixture()
def eu(spark):
    return spark.createDataFrame(EDGES, ["src", "dst"])


def _bfs_dists(eu, source=0):
    from icebug_spark.operators.traversal import bfs_distances

    return {r["id"]: r["dist"] for r in bfs_distances(eu, source).collect()}


def _cc(eu):
    from icebug_spark.operators.components import connected_components

    return {r["id"]: r["component"] for r in connected_components(eu).collect()}


EXPECT_BFS = {0: 0, 1: 1, 2: 2, 3: 3}
EXPECT_CC = {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4}


def test_mirror_broadcast_path(eu, spark):
    assert _bfs_dists(eu) == EXPECT_BFS
    assert _cc(eu) == EXPECT_CC


def test_mirror_shuffle_hash_path(eu, spark):
    """Force the past-the-cap branch: every mirror() call degrades to a
    shuffle-hash join; results must be unchanged."""
    spark.conf.set("spark.icebug.vertexBroadcastRows", "0")
    try:
        assert _bfs_dists(eu) == EXPECT_BFS
        assert _cc(eu) == EXPECT_CC
        from icebug_spark.operators.centrality import pagerank
        from icebug_spark.operators.traversal import sssp_weighted

        pr = {r["id"]: r["pagerank"] for r in pagerank(eu, max_iter=5).collect()}
        assert abs(sum(pr.values()) - 1.0) < 1e-6
        ew = eu.withColumn("weight", F.lit(1.0))
        d = {r["id"]: r["dist"] for r in sssp_weighted(ew, 0).collect()}
        assert d == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}
    finally:
        spark.conf.unset("spark.icebug.vertexBroadcastRows")


def test_mirror_plan_shapes(eu, spark):
    """The hint actually lands in the physical plan: broadcast under the
    cap, shuffled hash join over it (never a sort-merge of the edge
    side)."""
    from icebug_spark.plans.iterate import mirror

    state = spark.createDataFrame([(0, 0)], ["id", "dist"]).localCheckpoint()
    below = eu.join(mirror(state, 1), eu.src == state.id)
    assert "BroadcastHashJoin" in below._jdf.queryExecution().executedPlan().toString()
    spark.conf.set("spark.icebug.vertexBroadcastRows", "0")
    try:
        above = eu.join(mirror(state, 1), eu.src == state.id)
        plan = above._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.unset("spark.icebug.vertexBroadcastRows")


class _NoInternalCreate:
    """JVM-session proxy whose internalCreateDataFrame always raises —
    forces pin() onto its public createDataFrame(JavaRDD) fallback."""

    def __init__(self, real):
        object.__setattr__(self, "_real", real)

    def internalCreateDataFrame(self, *a, **k):
        raise RuntimeError("forced: simulate a Spark version without the private API")

    def __getattr__(self, name):
        return getattr(object.__getattribute__(self, "_real"), name)


def test_pin_public_api_fallback(eu, spark):
    """The docstring admits the primary path leans on a private[sql]
    Spark API (`internalCreateDataFrame`); this exercises the public
    createDataFrame(JavaRDD) fallback explicitly — a Spark upgrade that
    breaks the primary path must silently land here and stay CORRECT:
    values round-trip, stats reset to leaf defaults, and a pin-per-round
    solver loop (the CG shape that OOM'd in round 4) still converges."""
    from icebug_spark.plans.iterate import pin

    real = spark._jsparkSession
    spark._jsparkSession = _NoInternalCreate(real)
    try:
        df = eu.join(
            eu.withColumnRenamed("dst", "mid").withColumnRenamed("src", "dst"),
            "dst",
        ).select("src", "mid")
        pinned = pin(df)
        assert sorted(map(tuple, pinned.collect())) == sorted(
            map(tuple, df.collect())
        )
        assert pinned.schema == df.schema
        # stats reset: repeated pin-join-pin rounds keep sizeInBytes at the
        # leaf default instead of compounding the join product
        x = pin(eu)
        for _ in range(4):
            x = pin(x.join(x.withColumnRenamed("dst", "d2"), "src").select("src", "dst"))
        stats = int(
            str(x._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        default = int(spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1)))
        assert stats <= default
        # a real solver loop through the fallback: CG on a tiny Laplacian.
        # Path 0-1-2-3: R_eff(0,3)=3, vol=2*(#edges)=8 → commute time 24.
        from icebug_spark.operators.numerics import commute_time_distances

        out = commute_time_distances(
            eu.withColumn("weight", F.lit(1.0)), [(0, 3)]
        )
        d = out.collect()[0]
        assert abs(d["commute_time"] - 24.0) < 1e-3
    finally:
        spark._jsparkSession = real


def _entries(d):
    return sum(len(dirs) + len(files) for _, dirs, files in os.walk(d))


def test_reliable_checkpoint(eu, spark, monkeypatch):
    """`spark.icebug.reliableCheckpoint=true` routes every eager
    materialization — `checkpoint`, `pin`, their `*_observe` variants and
    the `iterate()` runner — through `DataFrame.checkpoint` into the
    configured checkpoint dir: the cluster fault-tolerance mode (SURVEY
    §7). With the flag on, any `localCheckpoint` raises, and each output
    equals its default-mode output."""
    from pyspark.sql.classic.dataframe import DataFrame

    from icebug_spark.llm import dedup
    from icebug_spark.operators import centrality, centrality2, numerics, triangles
    from icebug_spark.plans.iterate import pin

    arcs = [(0, 1), (1, 2), (0, 2), (2, 3)]  # one triangle plus a tail
    tri = spark.createDataFrame(arcs + [(b, a) for a, b in arcs], ["src", "dst"])
    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e"), (2, "a b c d f"), (3, "x y z w")],
        "doc_id BIGINT, text STRING",
    )
    runs = {
        "pagerank": lambda: centrality.pagerank(eu, max_iter=4),
        "triangles": lambda: triangles.triangle_count(tri),
        "exact_duplicates": lambda: dedup.exact_duplicates(docs),
        "ngram_jaccard": lambda: dedup.ngram_jaccard_pairs(docs, threshold=0.3),
        "katz": lambda: centrality2.katz_centrality(eu, max_iter=4),
        "commute_time": lambda: numerics.commute_time_distances(
            eu.withColumn("weight", F.lit(1.0)), [(0, 3)]
        ),
    }

    def outputs():
        return {k: sorted(map(tuple, f().collect())) for k, f in runs.items()}

    default = outputs()
    assert default["triangles"] == [(1,)] and default["ngram_jaccard"]
    with tempfile.TemporaryDirectory() as d:
        spark.sparkContext.setCheckpointDir(d)
        spark.conf.set("spark.icebug.reliableCheckpoint", "true")

        def local_checkpoint(*a, **k):
            raise AssertionError("localCheckpoint under reliableCheckpoint=true")

        monkeypatch.setattr(DataFrame, "localCheckpoint", local_checkpoint)
        try:
            assert _cc(eu) == EXPECT_CC
            assert _bfs_dists(eu) == EXPECT_BFS
            assert outputs() == default
            before = _entries(d)
            pin(spark.range(10))
            assert _entries(d) > before
        finally:
            monkeypatch.undo()
            spark.conf.unset("spark.icebug.reliableCheckpoint")


def test_reliable_checkpoint_traversal_smoke(eu, spark, monkeypatch, tmp_path):
    """Default-run slice of ``test_reliable_checkpoint``: with the flag on
    and ``localCheckpoint`` raising, the expand, σ and min-label kernels
    (through ``reachable_nodes``, ``bfs_sigma`` and
    ``partition_fragmentation``) return their default-mode outputs, pinned
    here as literals so that only the reliable pass runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    from icebug_spark.operators.centrality2 import bfs_sigma
    from icebug_spark.operators.quality import partition_fragmentation
    from icebug_spark.operators.reachability import reachable_nodes

    part = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1), (4, 1), (5, 1)], "id BIGINT, subset BIGINT"
    )
    runs = {
        "reachable": (lambda: reachable_nodes(eu, [0, 4]), [(0, 4), (4, 2)]),
        "sigma": (
            lambda: bfs_sigma(eu, [0]),
            [(0, h, h, 1.0) for h in range(4)],
        ),
        # pieces {0, 1} of cluster 0, {2, 3} and {4, 5} of cluster 1
        "fragmentation": (lambda: partition_fragmentation(eu, part), [(0, 0.0), (1, 0.5)]),
    }
    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set("spark.icebug.reliableCheckpoint", "true")

    def local_checkpoint(*a, **k):
        raise AssertionError("localCheckpoint under reliableCheckpoint=true")

    monkeypatch.setattr(DataFrame, "localCheckpoint", local_checkpoint)
    try:
        for name, (run, default) in runs.items():
            assert sorted(map(tuple, run().collect())) == default, name
        assert any(tmp_path.iterdir())
    finally:
        monkeypatch.undo()
        spark.conf.unset("spark.icebug.reliableCheckpoint")
