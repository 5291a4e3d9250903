"""Left-right planarity check.

Parity target: reference ``planarity/LeftRightPlanarityCheck.hpp:16``
(Brandes' left-right algorithm / de Fraysseix-Rosenstiehl criterion).

DFS orientation with nesting order is inherently sequential (SURVEY §7
risk register), so this follows the repo's documented driver-fallback
pattern: collect the edge set under a size guard and run the LR test in
pure Python. Cheap DISTRIBUTED pre-checks run first — the Euler bound
m <= 3n − 6 rejects dense graphs with a single aggregation, and each
connected component can be tested independently (the collected subgraph
shape used by biconnected components applies unchanged at scale).

Implementation follows the published LR algorithm (Brandes, "The
left-right planarity test", 2009): DFS computes lowpoints; back edges
are partitioned into two interleaving-free sides via the conflict-pair
stack; a fusion conflict proves a Kuratowski subdivision.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def is_planar(edges_undirected: DataFrame, max_edges: int = 100_000) -> bool:
    """True iff the (simple, undirected view of the) graph is planar."""
    e = checkpoint(
        edges_undirected.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    agg = e.agg(
        F.count(F.lit(1)).alias("m"),
        F.countDistinct(F.col("u")).alias("_a"),
    ).collect()[0]
    m = agg["m"]
    n = (
        e.select(F.col("u").alias("id")).union(e.select(F.col("v").alias("id")))
        .distinct()
        .count()
    )
    # distributed Euler pre-check: planar simple graphs have m <= 3n-6
    if n >= 3 and m > 3 * n - 6:
        return False
    if m > max_edges:
        raise ValueError(
            f"planarity driver check refuses {m} edges (max_edges={max_edges}); "
            "split by connected component first"
        )
    adj: dict[int, list[int]] = defaultdict(list)
    for r in e.collect():
        u, v = int(r["u"]), int(r["v"])
        adj[u].append(v)
        adj[v].append(u)
    return _lr_planar(adj)


def _lr_planar(adj: dict[int, list[int]]) -> bool:
    """Brandes' LR algorithm on an adjacency dict (iterative DFS)."""
    INF = float("inf")
    height: dict[int, float] = {}
    lowpt: dict = {}
    lowpt2: dict = {}
    nesting: dict = {}
    parent_edge: dict = {}
    orient: dict = {}  # oriented tree/back edges as (u, v)
    oriented: set = set()

    def dfs1(root: int) -> None:
        stack = [(root, iter(list(adj[root])))]
        while stack:
            u, it = stack[-1]
            advanced = False
            for w in it:
                eo = (u, w)
                if (u, w) in oriented or (w, u) in oriented:
                    continue
                oriented.add(eo)
                lowpt[eo] = height[u]
                lowpt2[eo] = height[u]
                if w not in height:  # tree edge
                    parent_edge[w] = eo
                    height[w] = height[u] + 1
                    stack.append((w, iter(list(adj[w]))))
                    advanced = True
                    break
                else:  # back edge
                    lowpt[eo] = height[w]
                    _post(u, eo)
            if not advanced:
                stack.pop()
                pe = parent_edge.get(u)
                if pe is not None:
                    _post_tree(u, pe)

    def _post(u: int, eo) -> None:
        # determine nesting depth of the (back) edge
        nesting[eo] = 2 * lowpt[eo]
        if lowpt2[eo] < height[u]:
            nesting[eo] += 1
        pe = parent_edge.get(u)
        if pe is not None:
            if lowpt[eo] < lowpt[pe]:
                lowpt2[pe] = min(lowpt[pe], lowpt2[eo])
                lowpt[pe] = lowpt[eo]
            elif lowpt[eo] > lowpt[pe]:
                lowpt2[pe] = min(lowpt2[pe], lowpt[eo])
            else:
                lowpt2[pe] = min(lowpt2[pe], lowpt2[eo])

    def _post_tree(u: int, pe) -> None:
        nesting[pe] = 2 * lowpt[pe]
        if lowpt2[pe] < height[parent_of(pe)]:
            nesting[pe] += 1
        gp = parent_edge.get(parent_of(pe))
        if gp is not None:
            if lowpt[pe] < lowpt[gp]:
                lowpt2[gp] = min(lowpt[gp], lowpt2[pe])
                lowpt[gp] = lowpt[pe]
            elif lowpt[pe] > lowpt[gp]:
                lowpt2[gp] = min(lowpt2[gp], lowpt[pe])
            else:
                lowpt2[gp] = min(lowpt2[gp], lowpt2[pe])

    def parent_of(eo):
        return eo[0]

    # --- phase 2 state -------------------------------------------------
    class Interval:
        __slots__ = ("low", "high")

        def __init__(self, low=None, high=None):
            self.low = low
            self.high = high

        def empty(self):
            return self.low is None and self.high is None

        def copy(self):
            return Interval(self.low, self.high)

    class ConflictPair:
        __slots__ = ("L", "R")

        def __init__(self, L=None, R=None):
            self.L = L or Interval()
            self.R = R or Interval()

        def swap(self):
            self.L, self.R = self.R, self.L

    S: list[ConflictPair] = []
    stack_bottom: dict = {}
    lowpt_edge: dict = {}
    ref: dict = {}
    side: dict = defaultdict(lambda: 1)

    def lowest(cp: ConflictPair) -> float:
        if cp.L.empty():
            return lowpt[cp.R.low]
        if cp.R.empty():
            return lowpt[cp.L.low]
        return min(lowpt[cp.L.low], lowpt[cp.R.low])

    def conflicting(I: Interval, eo) -> bool:
        return (not I.empty()) and lowpt[I.high] > lowpt[eo]

    def add_constraints(ei, pe) -> bool:
        P = ConflictPair()
        # merge return edges of ei into P.R
        while True:
            Q = S.pop()
            if not Q.L.empty():
                Q.swap()
            if not Q.L.empty():
                return False  # not planar
            if lowpt[Q.R.low] > lowpt[pe]:
                if P.R.empty():
                    P.R.high = Q.R.high
                else:
                    ref[P.R.low] = Q.R.high
                P.R.low = Q.R.low
            else:
                ref[Q.R.low] = lowpt_edge[pe]
            if S and S[-1] is stack_bottom.get(ei):
                break
            if not S or S[-1] == stack_bottom.get(ei):
                break
        # merge conflicting return edges of previous siblings into P.L
        while S and (conflicting(S[-1].L, ei) or conflicting(S[-1].R, ei)):
            Q = S.pop()
            if conflicting(Q.R, ei):
                Q.swap()
            if conflicting(Q.R, ei):
                return False  # not planar
            ref[P.R.low] = Q.R.high
            if Q.R.low is not None:
                P.R.low = Q.R.low
            if P.L.empty():
                P.L.high = Q.L.high
            else:
                ref[P.L.low] = Q.L.high
            P.L.low = Q.L.low
        if not (P.L.empty() and P.R.empty()):
            S.append(P)
        return True

    def trim_back_edges(u: int) -> None:
        while S and lowest(S[-1]) == height[u]:
            P = S.pop()
            if P.L.low is not None:
                side[P.L.low] = -1
        if S:
            P = S.pop()
            while P.L.high is not None and P.L.high[1] == u:
                P.L.high = ref.get(P.L.high)
            if P.L.high is None and P.L.low is not None:
                ref[P.L.low] = P.R.low
                side[P.L.low] = -1
                P.L.low = None
            while P.R.high is not None and P.R.high[1] == u:
                P.R.high = ref.get(P.R.high)
            if P.R.high is None and P.R.low is not None:
                ref[P.R.low] = P.L.low
                side[P.R.low] = -1
                P.R.low = None
            S.append(P)

    def dfs2(root: int) -> bool:
        # order outgoing oriented edges by nesting depth
        out = defaultdict(list)
        for eo in oriented:
            out[eo[0]].append(eo)
        for u in out:
            out[u].sort(key=lambda eo: nesting.get(eo, 0))
        stack = [(root, iter(out.get(root, [])), None)]
        while stack:
            u, it, pe = stack[-1]
            advanced = False
            for ei in it:
                stack_bottom[ei] = S[-1] if S else None
                w = ei[1]
                if parent_edge.get(w) == ei:  # tree edge: recurse
                    stack.append((w, iter(out.get(w, [])), ei))
                    advanced = True
                    break
                else:  # back edge
                    lowpt_edge[ei] = ei
                    S.append(ConflictPair(R=Interval(ei, ei)))
                # integrate new return edges
                if lowpt[ei] < height[u]:
                    first = out.get(u, [None])[0]
                    if ei == first:
                        lowpt_edge[pe_of(u)] = lowpt_edge[ei]
                    else:
                        if not add_constraints(ei, pe_of(u)):
                            return False
            if not advanced:
                stack.pop()
                if pe is not None:
                    u_parent = pe[0]
                    trim_back_edges(u_parent)
                    if lowpt[pe] < height[u_parent]:  # pe has return edges
                        if S:
                            hl = S[-1].L.high
                            hr = S[-1].R.high
                            if hl is not None and (
                                hr is None or lowpt[hl] > lowpt[hr]
                            ):
                                ref[pe] = hl
                            elif hr is not None:
                                ref[pe] = hr
                    # integrate pe into its parent's constraints
                    out_u = out.get(u_parent, [])
                    if out_u and pe == out_u[0]:
                        gp = parent_edge.get(u_parent)
                        if gp is not None and pe in lowpt_edge:
                            lowpt_edge[gp] = lowpt_edge[pe]
                    elif lowpt[pe] < height[pe[0]]:
                        if not add_constraints(pe, parent_edge.get(u_parent)):
                            return False
            # continue
        return True

    def pe_of(u):
        return parent_edge.get(u)

    roots = []
    for v in adj:
        if v not in height:
            height[v] = 0
            dfs1(v)
            roots.append(v)

    # simple upper bound from phase 1 is already checked by caller; run LR
    for r in roots:
        S.clear()
        if not dfs2(r):
            return False
    return True
