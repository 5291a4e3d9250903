"""Seeded community detection + node2vec walk tests."""

import pytest
from pyspark.sql import functions as F


def _eu(spark, pairs):
    rows = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    return spark.createDataFrame(sorted(set(rows)), "src BIGINT, dst BIGINT")


# two 4-cliques joined by one bridge edge 3-4
TWO_CLIQUES = (
    [(a, b) for a in range(4) for b in range(4) if a < b]
    + [(a, b) for a in range(4, 8) for b in range(4, 8) if a < b]
    + [(3, 4)]
)


def test_ppr_push_mass_concentrates_near_seed(spark):
    from icebug_spark.operators.scd import ppr_push

    eu = _eu(spark, TWO_CLIQUES)
    out = ppr_push(eu, [0], alpha=0.15, eps=1e-5).collect()
    scores = {r["id"]: r["ppr"] for r in out}
    assert set(scores) <= set(range(8))
    # seed's own clique outranks the far clique
    near = sum(scores.get(i, 0.0) for i in range(4))
    far = sum(scores.get(i, 0.0) for i in range(4, 8))
    assert near > far
    assert scores[0] == max(scores.values())


def test_pagerank_nibble_recovers_clique(spark):
    from icebug_spark.operators.scd import pagerank_nibble

    eu = _eu(spark, TWO_CLIQUES)
    members = {r["id"] for r in pagerank_nibble(eu, [0], eps=1e-5).collect()}
    assert members == {0, 1, 2, 3}


def test_pagerank_nibble_batched_seeds(spark):
    from icebug_spark.operators.scd import pagerank_nibble

    eu = _eu(spark, TWO_CLIQUES)
    got = pagerank_nibble(eu, [0, 7], eps=1e-5).collect()
    by_seed = {}
    for r in got:
        by_seed.setdefault(r["seed"], set()).add(r["id"])
    assert by_seed[0] == {0, 1, 2, 3}
    assert by_seed[7] == {4, 5, 6, 7}


def test_set_conductance_values(spark):
    from icebug_spark.operators.scd import set_conductance

    eu = _eu(spark, TWO_CLIQUES)
    members = spark.createDataFrame(
        [(0, i) for i in range(4)] + [(1, 0), (1, 4)], "seed BIGINT, id BIGINT"
    )
    out = {r["seed"]: r["conductance"] for r in set_conductance(eu, members).collect()}
    # clique {0,1,2,3}: cut=1 (bridge), vol=2*6+1=13 -> 1/13
    assert out[0] == pytest.approx(1 / 13, abs=1e-6)
    # {0,4}: cut = deg(0)+deg(4)-2*edges_inside = 3+4-0 = 7; vol=7 -> 7/7=1
    assert out[1] == pytest.approx(1.0, abs=1e-6)


def test_random_bfs_community(spark):
    from icebug_spark.operators.scd import random_bfs_community

    eu = _eu(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    # the repeated seed 0 yields one community, each member once
    got = sorted(map(tuple, random_bfs_community(eu, [0, 0], hops=2).collect()))
    assert got == [(0, 0), (0, 1), (0, 2)]


def test_random_walks_shape_and_validity(spark):
    from icebug_spark.operators.embedding import random_walks

    eu = _eu(spark, TWO_CLIQUES)
    walks = random_walks(eu, walk_length=5, walks_per_node=2, seed=1).collect()
    assert len(walks) == 16  # 8 nodes * 2 walks
    edges = {(u, v) for u, v in TWO_CLIQUES} | {(v, u) for u, v in TWO_CLIQUES}
    for r in walks:
        w = r["walk"]
        assert len(w) == 5
        for a, b in zip(w[:-1], w[1:]):
            assert (a, b) in edges


def test_random_walks_deterministic(spark):
    from icebug_spark.operators.embedding import random_walks

    eu = _eu(spark, TWO_CLIQUES)
    a = {r["walk_id"]: r["walk"] for r in random_walks(eu, 4, 1, seed=7).collect()}
    b = {r["walk_id"]: r["walk"] for r in random_walks(eu, 4, 1, seed=7).collect()}
    assert a == b


def test_random_walks_dead_end_stops(spark):
    from icebug_spark.operators.embedding import random_walks

    # directed-ish: only give 1 an out-edge to 0 — but walks use symmetric
    # input here, so make a真 dead end via an isolated pair
    eu = spark.createDataFrame([(0, 1)], "src BIGINT, dst BIGINT")
    walks = {tuple(r["walk"]) for r in random_walks(eu, walk_length=4, walks_per_node=1).collect()}
    # node 1 has no out-edges in the asymmetric input: its walk stalls at [1]
    assert (0, 1) in walks or (0, 1, 0, 1) not in walks


def test_node2vec_embeddings_dim_and_coverage(spark):
    from icebug_spark.operators.embedding import node2vec_embeddings

    eu = _eu(spark, TWO_CLIQUES)
    vec = node2vec_embeddings(eu, dim=8, walk_length=6, walks_per_node=3, seed=3)
    rows = vec.collect()
    assert {r["id"] for r in rows} == set(range(8))
    assert all(len(r["vector"]) == 8 for r in rows)


def test_biased_walks_p_q(spark):
    from icebug_spark.operators.embedding import random_walks

    eu = _eu(spark, TWO_CLIQUES)
    walks = random_walks(eu, walk_length=6, walks_per_node=2, p=0.25, q=4.0, seed=5).collect()
    assert len(walks) == 16 and all(len(r["walk"]) == 6 for r in walks)
