"""Session-memoized derived artifacts (icebug_spark.catalog)."""

from icebug_spark.catalog import (
    build_derived_artifacts,
    derived_canonical_edges,
    derived_edges,
    derived_edges_undirected,
    derived_triangle_kernel,
    derived_weighted_edges,
)


def test_build_populates_all_memos_and_reuses(spark, sf_dir):
    build_derived_artifacts(spark, sf_dir)
    # every artifact call now returns the memoized object (identity, not
    # just equality — proves no rebuild after the concurrent warmup)
    assert derived_edges(spark, sf_dir, materialize=True) is derived_edges(
        spark, sf_dir, materialize=True
    )
    assert derived_edges_undirected(spark, sf_dir) is derived_edges_undirected(
        spark, sf_dir
    )
    assert derived_weighted_edges(spark, sf_dir) is derived_weighted_edges(
        spark, sf_dir
    )
    assert derived_canonical_edges(spark, sf_dir) is derived_canonical_edges(
        spark, sf_dir
    )
    assert derived_triangle_kernel(spark, sf_dir) is derived_triangle_kernel(
        spark, sf_dir
    )


def test_artifact_consistency(spark, sf_dir):
    build_derived_artifacts(spark, sf_dir)
    e = derived_edges(spark, sf_dir, materialize=True).count()
    eu = derived_edges_undirected(spark, sf_dir).count()
    c = derived_canonical_edges(spark, sf_dir).count()
    ew = derived_weighted_edges(spark, sf_dir).count()
    # EU = E u reverse(E): between E and 2E; C = loop-free canonical
    assert e <= eu <= 2 * e
    assert c <= eu // 2 + e  # canonical never exceeds one row per pair
    assert ew == e  # EW aggregates the same distinct (src, dst) pairs


def test_build_keeps_callers_job_group(spark, sf_dir, tmp_path):
    """The build's concurrent half runs on pool threads; they inherit the
    caller's job group, so the build submits no untagged job. A fresh
    copy of the inputs keeps the session memo cold."""
    import shutil

    for t in ("orders", "lineitem"):
        shutil.copyfile(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    untagged = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("catalog-build", "catalog-build")
    try:
        build_derived_artifacts(spark, str(tmp_path))
    finally:
        sc.setJobGroup(None, None)
    assert set(tracker.getJobIdsForGroup(None)) <= untagged
    assert tracker.getJobIdsForGroup("catalog-build")
