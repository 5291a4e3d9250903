"""Dyn* incremental algorithms: per-batch maintenance of BFS distances,
connected components, and Katz centrality under GraphEvent batches, plus
AffectedNodes.

Parity targets (reference):
- DynBFS / DynSSSP      ``distance/DynBFS.hpp:19``, ``DynSSSP.hpp:24``
- DynConnectedComponents ``components/DynConnectedComponents.hpp:31``
- DynKatzCentrality      ``centrality/DynKatzCentrality.hpp:23``
- AffectedNodes          ``distance/AffectedNodes.hpp:17`` (620 LoC)

Model (SURVEY §1.5/§2.15): events are rows (ts, type, u, v, w); a batch is
everything between TIME_STEP markers. Each maintainer takes (state, batch)
→ new state, recomputing only from the AFFECTED frontier rather than from
scratch — the distributed analog of the reference's per-event updates.

The maintainers ride the static kernels' one-job-per-round loops: DynCC is
``components.connected_components`` from a seed label table, the affected
cone is ``traversal.expand_round`` levels, and DynBFS (like
``dynamic3.dyn_sssp_update``) is ``traversal.relax_round`` rounds resumed
from the current labels (``_resume``). Each reads its event batch once
(``_read_batch``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.components import connected_components
from icebug_spark.operators.traversal import expand_round, relax_round
from icebug_spark.plans.iterate import checkpoint, checkpoint_observe, mirror


def _sym(e: DataFrame) -> DataFrame:
    # distinct matters: callers may already hold both arc directions, and
    # duplicated arcs silently double walk counts in dyn_katz_update
    # (min-based BFS/CC label updates only waste work)
    return (
        e.select("src", "dst")
        .union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )


def apply_edge_events(edges: DataFrame, batch: DataFrame) -> DataFrame:
    """Apply one event batch to an edge table. The result holds every
    pair of ``edges`` and of the EDGE_ADDITION events, minus every pair an
    EDGE_REMOVAL event names: within a batch a removal wins whatever the
    order of the events (``ts`` is not read). One read of the batch: the
    pairs and events meet in one ``groupBy(src, dst)``, and a pair is kept
    iff its group has no removal row. Returns the new edge table."""
    events = batch.where(F.col("type").isin("EDGE_ADDITION", "EDGE_REMOVAL")).select(
        F.col("u").alias("src"), F.col("v").alias("dst"),
        (F.col("type") == "EDGE_REMOVAL").alias("rm"),
    )
    return (
        edges.select("src", "dst", F.lit(False).alias("rm"))
        .union(events)
        .groupBy("src", "dst")
        .agg(F.max("rm").alias("rm"))
        .where(~F.col("rm"))
        .select("src", "dst")
    )


def _read_batch(batch: DataFrame, labels: DataFrame | None = None):
    """One job over the event batch → ``(ends, n, has_removal)``. ``ends``
    is the materialized distinct endpoint table ``(id)`` of every event —
    with each endpoint's ``component`` from ``labels`` when given (null
    for an endpoint outside the labeling) — ``n`` its row count; the
    count and the removal flag ride the job as observed metrics."""
    rm = (F.col("type") == "EDGE_REMOVAL").alias("rm")
    ends = batch.select(F.explode(F.array("u", "v")).alias("id"), rm).groupBy("id").agg(
        F.max("rm").alias("rm")
    )
    if labels is not None:
        ends = ends.join(labels, "id", "left")
    # a null id groups into one row that carries its events' removal flag;
    # it is dropped after the job, and count("id") skips it
    cp, m = checkpoint_observe(ends, F.count("id").alias("n"), F.max("rm").alias("rm"))
    return cp.where(F.col("id").isNotNull()).drop("rm"), int(m["n"]), bool(m["rm"])


def _cone(eu: DataFrame, seeds: DataFrame, n: int, hops: int):
    """Nodes within ``hops`` of the ``n`` seed ids over ``eu`` (seeds
    included) → ``(cone, rows)``: ``expand_round`` levels, one checkpoint
    per hop."""
    state = seeds.select("id", F.lit(True).alias("frontier"))
    rows = front = n
    for _ in range(hops):
        state, m = expand_round(state, eu, front)
        front = int(m["nf"] or 0)
        rows += front
        if front == 0:
            break
    return state.select("id"), rows


def _invalidate(dist: DataFrame, eu: DataFrame, ends: DataFrame, n: int, hops: int):
    """Drop the ``dist`` rows inside the batch's affected cone. The SOURCE
    (dist == 0) is never invalidated — it anchors the re-relaxation even
    when the cone covers the whole graph."""
    cone, rows = _cone(eu, ends, n, hops)
    return dist.join(
        mirror(cone.withColumn("aff", F.lit(True)), rows), "id", "left"
    ).where(F.col("aff").isNull() | (F.col("dist") == 0)).select("id", "dist")


def affected_nodes(edges_new: DataFrame, batch: DataFrame, hops: int = 2) -> DataFrame:
    """AffectedNodes (``distance/AffectedNodes.hpp:17``): the k-hop
    neighborhood (in the UPDATED graph) of every event endpoint — the node
    set whose results may have changed. → (id)."""
    ends, n, _ = _read_batch(batch)
    return _cone(checkpoint(_sym(edges_new)), ends, n, hops)[0]


def _resume(
    dist: DataFrame, ew: DataFrame, batch: DataFrame, max_rounds: int, tol=0.0
) -> DataFrame:
    """Shared DynBFS / DynSSSP body over ``(src, dst, weight)`` edges:
    invalidate the removal cone, then ``relax_round`` from the current
    labels until no label changes by more than ``tol``. Only rows whose
    distance changed last round relax (all in the first): an unchanged
    row already pushed its value, so each round ends in the state a relax
    of all rows gives."""
    ends, n, has_removal = _read_batch(batch)
    if has_removal:
        dist = _invalidate(dist, ew, ends, n, max_rounds)
    state, m = checkpoint_observe(
        dist.select("id", "dist", F.lit(True).alias("changed")),
        F.count(F.lit(1)).alias("nch"),
    )
    for _ in range(max_rounds):
        state, m = relax_round(state, ew, int(m["nch"] or 0), tol=tol)
        if int(m["nch"] or 0) == 0:
            break
    return state.select("id", "dist")


def dyn_bfs_update(
    dist: DataFrame, edges_new: DataFrame, batch: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """DynBFS (``distance/DynBFS.hpp:19``): maintain (id, dist) from a
    fixed source under a batch.

    Additions only shrink distances: seed the relax loop from the affected
    endpoints' current labels and propagate improvements. Removals can
    lengthen paths — detected by dropping the affected nodes' labels and
    re-relaxing from their still-settled neighbors (bounded recompute; the
    reference tracks the same 'affected' set per event). Unit weights keep
    ``dist`` BIGINT.

    ``max_rounds`` is also the depth cap, as ``max_hops`` is for
    ``bfs_distances``: the result holds exactly the nodes within
    ``max_rounds`` hops of the source. The relax rounds alone would keep
    labels past the cap, e.g. on a path an addition hangs onto a node at
    depth ``max_rounds``. The rounds still settle every node within the
    cap. Every label within the cap is the length of a real path in the
    new graph: an old label whose path crossed a removed edge lies within
    ``max_rounds`` hops of the last such edge, so the cone dropped it,
    and a relaxed label exceeds the label it came from. The source keeps
    0, and round r ends with every label at most the length of the
    shortest path of r or fewer edges, as a relax of all rows would. So
    a node at depth d <= ``max_rounds`` holds d after d rounds."""
    ew = checkpoint(_sym(edges_new)).select("src", "dst", F.lit(1).alias("weight"))
    dist = dist.select("id", F.col("dist").cast("long").alias("dist"))
    return _resume(dist, ew, batch, max_rounds).where(F.col("dist") <= max_rounds)


def dyn_cc_update(
    comp: DataFrame, edges_new: DataFrame, batch: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """DynConnectedComponents (``components/DynConnectedComponents.hpp:31``).
    Additions: min-label propagation seeded from the merged labels (only
    components touching an added edge move). Removals: may split a
    component — the affected components are relabeled from scratch
    (restricted recompute: only those components' nodes carry labels
    into the loop), everything else is untouched. Both run the static
    ``connected_components`` loop from a seed label table."""
    eu = checkpoint(_sym(edges_new))
    # normalize label coverage to the UPDATED graph's node set: an added
    # edge may introduce endpoints the old labeling never saw (they seed
    # as their own component and merge via propagation), and endpoints
    # that lost their last edge drop out (matching a static relabel)
    comp = checkpoint(
        eu.select(F.col("src").alias("id")).distinct().join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    ends, n, has_removal = _read_batch(batch, comp)
    if not has_removal:
        return connected_components(eu, max_iter=max_rounds, labels=comp)
    # components touched by ANY event → full relabel restricted to them.
    # Removals may split; additions in the same batch may merge two
    # components a removal never touched — restricting to removal
    # endpoints alone would freeze that merge away.
    touched = mirror(ends.select("component").where("component IS NOT NULL").distinct(), n)
    frozen = comp.join(touched, "component", "left_anti")
    own = comp.join(touched, "component", "left_semi").select("id", F.col("id").alias("component"))
    # frozen's anti-join on "component" moves the key column first — a
    # positional union would transpose (id, component); match by name
    return frozen.select("id", "component").unionByName(
        connected_components(eu, max_iter=max_rounds, labels=own)
    )


def dyn_weakly_cc_update(
    comp: DataFrame, edges_new_directed: DataFrame, batch: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """DynWeaklyConnectedComponents (reference
    ``components/DynWeaklyConnectedComponents.hpp`` via
    ``components.pyx:336``): maintain the WEAK components of a DIRECTED
    graph under an edge-event batch. Weak components are exactly the
    connected components of the symmetrized graph, so this is the named
    wrapper over :func:`dyn_cc_update` with both the updated edge table
    and the event batch symmetrized — direction never matters to the
    label propagation, and edge events touch the same endpoint set in
    either orientation. :func:`dyn_cc_update` already symmetrizes its
    edge table (``_sym``) and reads BOTH event endpoints for the touched
    set, so the directed case needs no extra transformation — this
    wrapper pins the reference name and the directed-input contract.
    → (id, component), min-id labels."""
    return dyn_cc_update(
        comp, edges_new_directed, batch, max_rounds=max_rounds
    )


def dyn_katz_update(
    edges_new: DataFrame,
    alpha: float = 0.05,
    iters: int = 8,
) -> DataFrame:
    """DynKatzCentrality (``centrality/DynKatzCentrality.hpp:23``): the
    reference maintains per-iteration walk counts; the DataFrame analog
    recomputes the truncated series x = Σ α^k A^k·1 on the updated edges —
    each term one join+groupBy, lineage checkpointed. The 'incremental'
    win in Spark comes from reusing the cached symmetrized edge table, not
    per-entry deltas. → (id, katz) 6dp."""
    eu = checkpoint(_sym(edges_new))
    x = checkpoint(
        eu.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("term", F.lit(1.0))
    )
    terms = [x]
    for _ in range(iters):
        x = checkpoint(
            eu.join(x.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg((F.lit(alpha) * F.sum("term")).alias("term"))
        )
        terms.append(x)
    # one final aggregation over the (checkpointed) per-iteration term
    # tables — half the checkpoints of a per-iteration full-outer merge,
    # and one shuffle instead of `iters` sequential joins
    allt = terms[0]
    for t in terms[1:]:
        allt = allt.unionByName(t)
    katz = allt.groupBy("id").agg(F.sum("term").alias("katz"))
    return katz.select("id", F.round("katz", 6).alias("katz"))
