"""Minimum/maximum spanning forest via distributed Borůvka rounds.

Parity targets: reference ``graph/KruskalMSF.hpp:21``, ``PrimMSF.hpp:25``,
``RandomMaximumSpanningForest.hpp:18``, ``UnionMaximumSpanningForest.hpp:15``,
``graph/SpanningForest.hpp:20``. Kruskal/Prim are sequential-PQ shaped;
the bulk-synchronous equivalent is Borůvka: every component picks its
minimum outgoing edge, picked edges merge components, repeat — O(log n)
rounds, each one join + one groupBy + a CC-style relabel. This is the
standard scale-out MSF algorithm.

Determinism: ties broken by (weight, src, dst) lexicographic order, so
the forest is unique even with duplicate weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint, checkpoint_observe, mirror


def boruvka_msf(
    edges_weighted: DataFrame, maximum: bool = False, max_rounds: int = 40
) -> DataFrame:
    """Minimum (or maximum) spanning forest of an undirected weighted
    graph. Input: one row per undirected edge (either orientation).
    Returns forest edges (src, dst, weight) canonicalized src < dst."""
    sign = -1.0 if maximum else 1.0
    # canonical undirected edges, dedup keeping min weight per pair
    e = checkpoint(
        edges_weighted.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            (F.col("weight") * sign).alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    comp = checkpoint(
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    n = comp.count()  # sizes the mirror() hints on the label joins
    forest = None
    for _ in range(max_rounds):
        # cross-component-edge count rides the checkpoint (observed)
        labeled, ml = checkpoint_observe(
            # node-bounded labels move, the edge table stays in place
            e.join(mirror(comp.select(F.col("id").alias("u"), F.col("comp").alias("cu")), n), "u")
            .join(mirror(comp.select(F.col("id").alias("v"), F.col("comp").alias("cv")), n), "v")
            .where(F.col("cu") != F.col("cv")),
            F.count(F.lit(1)).alias("n"),
        )
        if int(ml["n"] or 0) == 0:
            break
        # min outgoing edge per component (both directions), deterministic
        # tie-break by (w, u, v)
        cand = labeled.select(
            F.col("cu").alias("comp"), "u", "v", "w", "cu", "cv"
        ).union(
            labeled.select(F.col("cv").alias("comp"), "u", "v", "w", "cu", "cv")
        )
        picked = checkpoint(
            cand.groupBy("comp")
            .agg(F.min(F.struct("w", "u", "v", "cu", "cv")).alias("s"))
            .select(
                F.col("s.u").alias("u"),
                F.col("s.v").alias("v"),
                F.col("s.w").alias("w"),
                F.col("s.cu").alias("cu"),
                F.col("s.cv").alias("cv"),
            )
            .distinct()
        )
        forest = picked.select("u", "v", "w") if forest is None else forest.union(
            picked.select("u", "v", "w")
        ).distinct()
        # merge components: union-find relabel via min-label propagation on
        # the picked component-merge graph (small: <= #components edges)
        merge = picked.select(F.col("cu").alias("a"), F.col("cv").alias("b"))
        merge = merge.union(merge.select(F.col("b").alias("a"), F.col("a").alias("b")))
        lbl = (
            merge.select(F.col("a").alias("id")).distinct().withColumn("lbl", F.col("id"))
        )
        # s_prev starts unknown: the first propagation round ALWAYS
        # strictly decreases the label sum (every merge edge joins two
        # distinct components, so some endpoint adopts a smaller label),
        # so the old standalone initial-sum collect job was pure overhead
        # — the round-0 stability comparison can never trigger.
        s_prev = None  # last round's label sum — saves one aggregate/round
        for _i in range(20):
            msgs = merge.join(lbl.withColumnRenamed("id", "a"), "a").select(
                F.col("b").alias("id"), "lbl"
            )
            # new label sum rides the checkpoint (observed metric)
            new, mm = checkpoint_observe(
                lbl.select("id", "lbl")
                .union(msgs)
                .groupBy("id")
                .agg(F.min("lbl").alias("lbl")),
                F.sum("lbl").alias("s"),
            )
            s_new = mm["s"]
            lbl = new
            if s_prev is not None and s_prev == s_new:
                break
            s_prev = s_new
        comp = checkpoint(
            comp.join(lbl.withColumnRenamed("id", "comp"), "comp", "left")
            .select("id", F.coalesce("lbl", F.col("comp")).alias("comp"))
        )
    if forest is None:
        return edges_weighted.sparkSession.createDataFrame(
            [], "src long, dst long, weight double"
        )
    return forest.select(
        F.col("u").alias("src"),
        F.col("v").alias("dst"),
        (F.col("w") * sign).alias("weight"),
    )


def spanning_forest(edges_undirected: DataFrame) -> DataFrame:
    """SpanningForest (``graph/SpanningForest.hpp:20``): ANY spanning
    forest — Borůvka on unit weights (deterministic tie-breaks make it
    reproducible). → (src, dst, weight=1.0)."""
    e = edges_undirected.select("src", "dst", F.lit(1.0).alias("weight"))
    return boruvka_msf(e)


def union_maximum_spanning_forest(
    edges_weighted: DataFrame, max_rounds: int = 40
) -> DataFrame:
    """UnionMaximumSpanningForest (``graph/UnionMaximumSpanningForest.hpp:15``):
    edges contained in AT LEAST ONE maximum spanning forest — the cycle
    rule: (u, v, w) qualifies iff u and v are disconnected in the
    subgraph of strictly heavier edges.

    Distributed shape: one min-label CC pass per DISTINCT weight level
    (descending); each pass labels the strictly-heavier subgraph and a
    join marks the level's edges whose endpoints differ. Level count is
    the number of distinct weights — small for quantized weights (the
    derived graph's lineitem multiplicities), and each pass is the
    standard CC loop."""
    from icebug_spark.operators.components import connected_components

    canon = checkpoint(
        edges_weighted.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            "weight",
        )
        .groupBy("u", "v")
        .agg(F.max("weight").alias("weight"))
    )
    levels = sorted(
        (r["weight"] for r in canon.select("weight").distinct().collect()),
        reverse=True,
    )
    spark = edges_weighted.sparkSession
    out = []
    for w in levels:
        heavier = canon.where(F.col("weight") > w)
        at_level = canon.where(F.col("weight") == w)
        # heavier edges exist iff w is not the maximum level — levels is
        # already the collected DESC-sorted distinct weight list, so the
        # old per-level limit(1).count existence job is a list lookup
        if w == levels[0]:
            out.append(at_level)  # no heavier edges: all level edges qualify
            continue
        eu = heavier.select("u", "v").union(
            heavier.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
        cc = connected_components(eu, max_iter=max_rounds).select(
            F.col("id"), F.col("component")
        )
        marked = (
            at_level.join(cc.withColumnsRenamed({"id": "u", "component": "cu"}), "u", "left")
            .join(cc.withColumnsRenamed({"id": "v", "component": "cv"}), "v", "left")
            .where(
                F.col("cu").isNull()
                | F.col("cv").isNull()
                | (F.col("cu") != F.col("cv"))
            )
            .select("u", "v", "weight")
        )
        out.append(marked)
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.select(F.col("u").alias("src"), F.col("v").alias("dst"), "weight")


def random_spanning_forest(
    edges_undirected: DataFrame, seed: int = 42, max_edges: int = 200_000
) -> DataFrame:
    """RandomMaximumSpanningForest's uniform sampler
    (``graph/RandomMaximumSpanningForest.hpp:18``): a UNIFORMLY random
    spanning tree per component via Wilson's loop-erased random walks.
    Loop-erased walks are inherently sequential (each walk depends on the
    tree so far) — documented driver fallback with the usual size guard;
    the forest it returns is a DataFrame like every other op."""
    import random as _random
    from collections import defaultdict

    e = (
        edges_undirected.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    cnt = e.count()
    if cnt > max_edges:
        raise ValueError(
            f"random_spanning_forest driver sampler refuses {cnt} edges "
            f"(max_edges={max_edges}); sample per partitioned component"
        )
    adj = defaultdict(list)
    for r in e.collect():
        u, v = int(r["u"]), int(r["v"])
        adj[u].append(v)
        adj[v].append(u)
    rng = _random.Random(seed)
    in_tree: set[int] = set()
    parent: dict[int, int] = {}
    for root in sorted(adj):
        if root in in_tree:
            continue
        in_tree.add(root)
        comp_nodes = _component_of(adj, root)
        # Wilson: for each node not in tree, loop-erased walk to the tree
        for s in sorted(comp_nodes):
            if s in in_tree:
                continue
            path = [s]
            cur = s
            while cur not in in_tree:
                cur = rng.choice(adj[cur])
                if cur in path:  # erase loop
                    path = path[: path.index(cur) + 1]
                else:
                    path.append(cur)
            for a, b in zip(path, path[1:]):
                parent[a] = b
                in_tree.add(a)
    rows = [
        (min(a, b), max(a, b)) for a, b in parent.items()
    ]
    spark = edges_undirected.sparkSession
    if not rows:
        return spark.createDataFrame([], "src BIGINT, dst BIGINT")
    return spark.createDataFrame(sorted(set(rows)), "src BIGINT, dst BIGINT")


def _component_of(adj, root):
    seen = {root}
    stack = [root]
    while stack:
        u = stack.pop()
        for v in adj[u]:
            if v not in seen:
                seen.add(v)
                stack.append(v)
    return seen
