"""Clique detection: k-clique listing by joins, maximal cliques via
per-node Bron-Kerbosch over collected neighborhoods.

Parity target: reference ``clique/MaximalCliques.hpp:28`` —
Eppstein-Löffler-Strash Bron-Kerbosch with degeneracy ordering, optional
maximumOnly (:42), callback mode (:54).

Spark strategy (SURVEY §2.6): k-clique listing for fixed small k is an
iterated oriented-edge join (each level adds one node adjacent to all
members — the degree-ordered orientation bounds the fanout, same as the
triangle enumerator). Full maximal-clique enumeration is exponential in
the worst case; we run pivoted Bron-Kerbosch *per degeneracy-ordered
vertex* inside applyInPandas, where each task sees one vertex's
later-ordered neighborhood subgraph (ELS decomposition) — the standard
way to distribute BK, and each task's subproblem is bounded by the
degeneracy, not the graph.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.triangles import canonical_edges
from icebug_spark.plans.iterate import checkpoint


def k_cliques(edges_undirected: DataFrame, k: int) -> DataFrame:
    """All k-cliques (k in 2..6 practical) as (members ARRAY<BIGINT>),
    sorted ascending within each row; each clique listed once.

    Level i extends every (i)-clique by one node adjacent to all current
    members, using degree-(id) oriented edges so each clique is built in
    exactly one order."""
    if k < 2:
        raise ValueError("k >= 2")
    c = checkpoint(canonical_edges(edges_undirected))
    deg = (
        c.select(F.col("u").alias("id"))
        .union(c.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wd = c.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u").join(
        deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v"
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = checkpoint(wd.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
    ))
    # cliques as (members array in orientation order, last node)
    cliques = oriented.select(F.array("x", "y").alias("m"), F.col("y").alias("last"))
    for _ in range(k - 2):
        ext = cliques.join(
            oriented.select(F.col("x").alias("last"), F.col("y").alias("nxt")), "last"
        )
        # nxt must be an oriented-successor of EVERY member: check via
        # semi-joins per position is wasteful — instead require edge
        # (member -> nxt) for all members using an aggregated join:
        flat = ext.select(
            F.posexplode("m").alias("pos", "member"), "m", "nxt"
        )
        ok = (
            flat.join(
                oriented.select(
                    F.col("x").alias("member"), F.col("y").alias("nxt")
                ),
                ["member", "nxt"],
                "leftsemi",
            )
            .groupBy("m", "nxt")
            .agg(F.count(F.lit(1)).alias("n_ok"))
            .where(F.col("n_ok") == F.size("m"))
        )
        cliques = checkpoint(ok.select(
            F.concat("m", F.array("nxt")).alias("m"), F.col("nxt").alias("last")
        ))
    return cliques.select(F.array_sort("m").alias("members"))


def maximal_cliques(edges_undirected: DataFrame, maximum_only: bool = False) -> DataFrame:
    """Maximal cliques as (members ARRAY<BIGINT>).

    ELS decomposition: order vertices by (degree, id); vertex v's task
    enumerates all maximal cliques whose lowest-ordered member is v, via
    pivoted BK on the subgraph induced by v's neighbors, with candidates
    restricted to later-ordered neighbors and excluded set to
    earlier-ordered ones. Each group = one vertex's ego subgraph →
    applyInPandas (pure pandas/python BK, no external deps)."""
    c = checkpoint(canonical_edges(edges_undirected))
    deg = (
        c.select(F.col("u").alias("id"))
        .union(c.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    adj = c.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        c.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    # per center vertex: neighbor list + each neighbor's rank + the
    # center's rank; plus edges among neighbors (triangle-shaped rows)
    ranked = deg.select(
        "id", (F.col("deg") * F.lit(1_000_000_000) + F.col("id")).alias("rk")
    )
    a1 = adj.join(ranked.withColumnRenamed("id", "node").withColumnRenamed("rk", "rk_c"), "node")
    a2 = a1.join(ranked.withColumnRenamed("id", "nbr").withColumnRenamed("rk", "rk_n"), "nbr")
    nbrs = a2.groupBy("node", "rk_c").agg(
        F.collect_list(F.struct("nbr", "rk_n")).alias("nbrs")
    )
    # edges among each center's neighbors: wedge join (center, a, b)
    e1 = adj.select("node", F.col("nbr").alias("a"))
    e2 = adj.select("node", F.col("nbr").alias("b"))
    wedges = e1.join(e2, "node").where(F.col("a") < F.col("b"))
    closed = wedges.join(
        c.select(F.col("u").alias("a"), F.col("v").alias("b")), ["a", "b"], "leftsemi"
    )
    nbr_edges = closed.groupBy("node").agg(
        F.collect_list(F.struct("a", "b")).alias("nbr_edges")
    )
    task = nbrs.join(nbr_edges, "node", "left")

    def bk(pdf: pd.DataFrame):
        out = []
        for _, row in pdf.iterrows():
            center = row["node"]
            rk_c = row["rk_c"]
            neigh = {n["nbr"]: n["rk_n"] for n in row["nbrs"]}
            g = {n: set() for n in neigh}
            if row["nbr_edges"] is not None:
                for e in row["nbr_edges"]:
                    a, b = e["a"], e["b"]
                    g[a].add(b)
                    g[b].add(a)
            p = {n for n, rk in neigh.items() if rk > rk_c}
            x = {n for n, rk in neigh.items() if rk < rk_c}

            def expand(r: set, p: set, x: set):
                if not p and not x:
                    out.append(sorted(r | {center}))
                    return
                pivot = max(p | x, key=lambda n: len(g[n] & p))
                for v in sorted(p - g[pivot]):
                    expand(r | {v}, p & g[v], x & g[v])
                    p = p - {v}
                    x = x | {v}

            expand(set(), set(p), set(x))
        return pd.DataFrame({"members": out}) if out else pd.DataFrame({"members": pd.Series([], dtype=object)})

    result = task.groupBy("node").applyInPandas(bk, "members ARRAY<BIGINT>")
    if maximum_only:
        mx = result.agg(F.max(F.size("members")).alias("s"))
        return result.crossJoin(F.broadcast(mx)).where(
            F.size("members") == F.col("s")
        ).select("members")
    return result


def clique_number(edges_undirected: DataFrame) -> DataFrame:
    """Size of the largest clique (single row, clique_number)."""
    return maximal_cliques(edges_undirected).agg(
        F.max(F.size("members")).alias("clique_number")
    )
