"""Streaming GraphUpdater: maintain a live edge table from a GraphEvent
stream via ``foreachBatch``.

Parity target: reference ``dynamics/GraphUpdater.hpp:19`` (apply an
ordered event stream to a graph) and ``GraphEventProxy/Handler``
(``dynamics/GraphEventProxy.hpp:23`` — observer fan-out; in Structured
Streaming that is simply several queries/handlers over one source).

Shape: ``readStream`` over event drops → ``foreachBatch`` applies each
micro-batch with the SAME last-wins upsert used by the batch path
(``dynamic.apply_events``), so stream/batch parity is by construction and
is asserted in tests with an availableNow trigger. State lives in the
maintained edge DataFrame (checkpointed per batch — at cluster scale this
is a Delta/iceberg-style upsert table); per-batch handlers receive the
updated edges for incremental analytics (DynBFS/DynCC/... hooks).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from icebug_spark.plans.iterate import checkpoint
from icebug_spark.streaming.dynamic import apply_events

EVENT_SCHEMA = "seq LONG, type STRING, u LONG, v LONG, w DOUBLE"


class GraphUpdater:
    """Holds the live edge table; ``process`` is the foreachBatch sink."""

    def __init__(self, initial_edges: DataFrame,
                 handlers: list[Callable[[DataFrame, int], None]] | None = None):
        self.edges = checkpoint(initial_edges)
        self.handlers = handlers or []
        self.n_batches = 0

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        # events within a micro-batch stay ordered by seq (last-wins
        # semantics inside apply_events); batches arrive in order
        self.edges = checkpoint(apply_events(self.edges, batch_df))
        self.n_batches += 1
        for h in self.handlers:  # GraphEventProxy observer fan-out
            h(self.edges, batch_id)


def run_graph_updater(
    spark: SparkSession,
    event_dir: str,
    initial_edges: DataFrame,
    checkpoint_dir: str,
    handlers: list[Callable[[DataFrame, int], None]] | None = None,
    available_now: bool = True,
) -> GraphUpdater:
    """Stream event-row parquet drops from ``event_dir`` into a live edge
    table. With ``available_now`` the call drains existing files and
    returns (test/batch-replay mode); otherwise the returned updater's
    query keeps running (``updater.query``)."""
    upd = GraphUpdater(initial_edges, handlers)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(event_dir)
    writer = (
        stream.writeStream.foreachBatch(upd.process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        upd.query = writer.start()  # type: ignore[attr-defined]
    return upd
