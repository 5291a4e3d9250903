"""Algebraic backend, max-flow, reachability, cliques, randomization."""

import pytest
from pyspark.sql import functions as F


def _coo(spark, rows):
    return spark.createDataFrame(rows, "row BIGINT, col BIGINT, value DOUBLE")


def _edges(spark, pairs):
    return spark.createDataFrame([(u, v) for u, v in pairs], "src BIGINT, dst BIGINT")


def _eu(spark, pairs):
    rows = sorted({(u, v) for u, v in pairs} | {(v, u) for u, v in pairs})
    return spark.createDataFrame(rows, "src BIGINT, dst BIGINT")


def test_mxm_arithmetic(spark):
    from icebug_spark.operators.algebraic import ARITHMETIC, mxm

    a = _coo(spark, [(0, 0, 1.0), (0, 1, 2.0), (1, 1, 3.0)])
    b = _coo(spark, [(0, 0, 4.0), (1, 0, 5.0), (1, 1, 6.0)])
    out = {(r["row"], r["col"]): r["value"] for r in mxm(a, b, ARITHMETIC).collect()}
    # [[1,2],[0,3]] @ [[4,0],[5,6]] = [[14,12],[15,18]]
    assert out == {(0, 0): 14.0, (0, 1): 12.0, (1, 0): 15.0, (1, 1): 18.0}


def test_mxv_min_plus_is_one_hop_relaxation(spark):
    from icebug_spark.operators.algebraic import MIN_PLUS, mxv

    a = _coo(spark, [(1, 0, 2.0), (2, 1, 3.0)])  # arcs 0->1 (w2), 1->2 (w3)
    x = spark.createDataFrame([(0, 0.0)], "idx BIGINT, value DOUBLE")
    out = {r["idx"]: r["value"] for r in mxv(a, x, MIN_PLUS).collect()}
    assert out == {1: 2.0}


def test_ewise_and_reduce(spark):
    from icebug_spark.operators.algebraic import (
        ARITHMETIC,
        MAX_MIN,
        column_reduce,
        e_wise_add,
        e_wise_mult,
        row_reduce,
    )

    a = _coo(spark, [(0, 0, 1.0), (0, 1, 2.0)])
    b = _coo(spark, [(0, 1, 5.0), (1, 1, 7.0)])
    add = {(r["row"], r["col"]): r["value"] for r in e_wise_add(a, b).collect()}
    assert add == {(0, 0): 1.0, (0, 1): 7.0, (1, 1): 7.0}
    mult = {(r["row"], r["col"]): r["value"] for r in e_wise_mult(a, b).collect()}
    assert mult == {(0, 1): 10.0}
    rr = {r["row"]: r["value"] for r in row_reduce(a, ARITHMETIC).collect()}
    assert rr == {0: 3.0}
    cr = {r["col"]: r["value"] for r in column_reduce(b, MAX_MIN).collect()}
    assert cr == {1: 7.0}


def test_algebraic_bfs_path(spark):
    from icebug_spark.operators.algebraic import algebraic_bfs

    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    out = {r["idx"]: r["value"] for r in algebraic_bfs(e, 0).collect()}
    assert out == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}


def test_algebraic_triangle_count_matches_enumeration(spark):
    from icebug_spark.operators.algebraic import algebraic_triangle_count

    # diamond: 2 triangles
    eu = _eu(spark, [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3)])
    assert algebraic_triangle_count(eu).collect()[0]["n_triangles"] == 2


def test_edmonds_karp_classic(spark):
    from icebug_spark.operators.flow import edmonds_karp

    # CLRS-style: s=0, t=5, max flow 23
    caps = [
        (0, 1, 16.0), (0, 2, 13.0), (1, 3, 12.0), (2, 1, 4.0), (2, 4, 14.0),
        (3, 2, 9.0), (3, 5, 20.0), (4, 3, 7.0), (4, 5, 4.0), (1, 2, 10.0),
    ]
    g = spark.createDataFrame(caps, "src BIGINT, dst BIGINT, capacity DOUBLE")
    res = edmonds_karp(g, 0, 5)
    assert res["max_flow"] == pytest.approx(23.0)
    # flow conservation at internal node 3: in == out
    fl = {(r["src"], r["dst"]): r["flow"] for r in res["flow"].collect()}
    into3 = fl.get((1, 3), 0) + fl.get((4, 3), 0)
    out3 = fl.get((3, 2), 0) + fl.get((3, 5), 0)
    assert into3 == pytest.approx(out3)
    src_set = {r["id"] for r in res["source_set"].collect()}
    assert 0 in src_set and 5 not in src_set


def test_edmonds_karp_disconnected(spark):
    from icebug_spark.operators.flow import edmonds_karp

    g = spark.createDataFrame([(0, 1, 5.0)], "src BIGINT, dst BIGINT, capacity DOUBLE")
    assert edmonds_karp(g, 0, 9)["max_flow"] == 0.0


def test_reachable_nodes(spark):
    from icebug_spark.operators.reachability import reachable_nodes

    e = _edges(spark, [(0, 1), (1, 2), (3, 4)])
    # the repeated source 0 is counted once, not once per occurrence
    rows = reachable_nodes(e, [0, 0, 3, 4]).collect()
    assert sorted((r["source"], r["n_reachable"]) for r in rows) == [(0, 3), (3, 2), (4, 1)]


def test_all_simple_paths(spark):
    from icebug_spark.operators.reachability import all_simple_paths

    e = _edges(spark, [(0, 1), (1, 3), (0, 2), (2, 3), (3, 0)])
    paths = {tuple(r["path"]) for r in all_simple_paths(e, 0, 3, cutoff=3).collect()}
    assert paths == {(0, 1, 3), (0, 2, 3)}


def test_k_cliques_and_maximal(spark):
    from icebug_spark.operators.cliques import k_cliques, maximal_cliques

    # K4 {0,1,2,3} plus pendant 4-0 and triangle {4,5,6}
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    eu = _eu(spark, k4 + [(0, 4), (4, 5), (5, 6), (4, 6)])
    tri = {tuple(r["members"]) for r in k_cliques(eu, 3).collect()}
    assert tri == {(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3), (4, 5, 6)}
    quads = {tuple(r["members"]) for r in k_cliques(eu, 4).collect()}
    assert quads == {(0, 1, 2, 3)}
    mx = {tuple(r["members"]) for r in maximal_cliques(eu).collect()}
    assert mx == {(0, 1, 2, 3), (4, 5, 6), (0, 4)}
    mo = {tuple(r["members"]) for r in maximal_cliques(eu, maximum_only=True).collect()}
    assert mo == {(0, 1, 2, 3)}


def test_degree_preserving_shuffle(spark):
    from icebug_spark.operators.randomization import degree_preserving_shuffle

    eu = _eu(spark, [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)])
    def degs(df):
        return sorted(
            r["c"]
            for r in df.groupBy("src").agg(F.count(F.lit(1)).alias("c")).collect()
        )
    shuffled = degree_preserving_shuffle(eu, seed=5)
    assert degs(shuffled) == degs(eu)
    assert shuffled.count() == eu.count()


def test_edge_switching_preserves_degrees(spark):
    from icebug_spark.operators.randomization import edge_switching

    # larger random-ish fixture: 3-regular-ish circulant
    n = 20
    pairs = [(i, (i + 1) % n) for i in range(n)] + [(i, (i + 3) % n) for i in range(n)]
    eu = _eu(spark, pairs)
    before = {
        r["src"]: r["c"]
        for r in eu.groupBy("src").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    switched = edge_switching(eu.where(F.col("src") < F.col("dst")), rounds=5, seed=2)
    sym = switched.union(
        switched.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    after = {
        r["src"]: r["c"]
        for r in sym.groupBy("src").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert before == after
    # and the chain actually moved something
    orig = {(r["src"], r["dst"]) for r in eu.where(F.col("src") < F.col("dst")).collect()}
    new = {(r["src"], r["dst"]) for r in switched.collect()}
    assert orig != new


def test_curveball_preserves_degrees(spark):
    from icebug_spark.operators.randomization import curveball_trades

    n = 16
    pairs = [(i, (i + 1) % n) for i in range(n)] + [(i, (i + 5) % n) for i in range(n)]
    eu = _eu(spark, pairs)
    before = {
        r["src"]: r["c"]
        for r in eu.groupBy("src").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    traded = curveball_trades(eu, rounds=4, seed=9)
    after = {
        r["src"]: r["c"]
        for r in traded.groupBy("src").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert before == after
    # symmetry invariant
    asym = traded.exceptAll(
        traded.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).count()
    assert asym == 0


def test_global_clustering_coefficient(spark):
    from icebug_spark.operators.triangles import global_clustering_coefficient

    # diamond: 2 triangles; wedges: deg 3,3,2,2 -> 3+3+1+1=8 -> gcc=6/8
    eu = _eu(spark, [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3)])
    row = global_clustering_coefficient(eu).collect()[0]
    assert row["global_cc"] == pytest.approx(0.75, abs=1e-6)
    # lcc: nodes 0,1: 2/3; nodes 2,3: 1 -> avg = (2/3+2/3+1+1)/4
    assert row["avg_cc"] == pytest.approx((2 / 3 + 2 / 3 + 1 + 1) / 4, abs=1e-4)
