"""Streaming approximate-nearest-neighbor index over an embedding stream.

Training-data pipelines embed documents continuously; similarity search
must be able to index AS vectors arrive, not re-bucket the corpus per
query. :class:`StreamingAnnIndex` is the similarity-search sibling of
``streaming.dedup.StreamingLshDedup``: a ``foreachBatch`` sink that
maintains an SRP-bucketed (vec_id, bucket, embedding) index
incrementally. Bucket keys come from the SAME deterministic
``llm.similarity.srp_buckets`` hyperplanes the batch path uses, so after
any prefix of the stream the index is IDENTICAL to batch-bucketing the
same rows — stream/batch parity by construction, asserted over a
multi-batch split stream in ``tests/test_streaming_ann.py``.

Query path (:meth:`topk`): SRP-hash the queries with the same planes,
join the index on the bucket key (candidates only — never a corpus
scan), exact cosine within the bucket, windowed top-k per query. With a
persisted index (``state_table``) the state is a managed table BUCKETED
BY (bucket) — the probe-join key — so both the per-batch append and
every query join scan the buckets in place; growth is append-only (a
vector is indexed exactly once, in its arrival batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from icebug_spark.llm.similarity import _dot, _norm2, srp_buckets
from icebug_spark.plans.iterate import checkpoint

EMB_SCHEMA = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"


class StreamingAnnIndex:
    """foreachBatch sink maintaining an SRP-bucketed ANN index."""

    def __init__(
        self,
        planes: int = 12,
        state_table: str | None = None,
        state_buckets: int = 8,
    ):
        self.planes = planes
        self.state_table = state_table
        self.state_buckets = state_buckets
        self.index: DataFrame | None = None
        self.n_batches = 0

    @property
    def _state_name(self) -> str:
        return f"{self.state_table}__index"

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        nb = checkpoint(
            srp_buckets(batch_df, self.planes)
            .join(batch_df.select("vec_id", "embedding"), "vec_id")
        )
        if self.state_table is not None:
            spark = batch_df.sparkSession
            # reset ONLY on a genuinely fresh stream checkpoint; a sink
            # reconstructed after a restart arrives with batch_id > 0
            # and keeps the accrued index. At-least-once replays are
            # skipped by the batch_id column (idempotent appends).
            if batch_id == 0:
                spark.sql(f"DROP TABLE IF EXISTS {self._state_name}")
            done = spark.catalog.tableExists(self._state_name) and (
                spark.table(self._state_name)
                .where(F.col("batch_id") == batch_id)
                .limit(1)
                .count()
                > 0
            )
            if not done:
                nb.withColumn("batch_id", F.lit(batch_id)).write.mode(
                    "append"
                ).bucketBy(self.state_buckets, "bucket").saveAsTable(
                    self._state_name
                )
            self.index = spark.table(self._state_name).drop("batch_id")
        else:
            self.index = checkpoint(
                nb if self.index is None else self.index.unionByName(nb)
            )
        self.n_batches += 1

    def topk(
        self, queries: DataFrame, k: int = 10, exclude_self: bool = True
    ) -> DataFrame:
        """Exact-cosine top-k within the query's SRP bucket →
        (query_id, vec_id, cosine, rnk). ``queries`` = (query_id,
        embedding). With ``exclude_self`` (default) rows with
        ``query_id == vec_id`` are dropped — the self-match when queries
        are drawn from the indexed corpus. Pass ``exclude_self=False``
        when query ids live in a separate id namespace (a numeric
        collision with an indexed vec_id would otherwise silently drop a
        legitimate neighbor)."""
        if self.index is None:
            raise ValueError("index is empty — no batch has been processed")
        qb = srp_buckets(
            queries.select(F.col("query_id").alias("vec_id"), "embedding"),
            self.planes,
        ).select(F.col("vec_id").alias("query_id"), "bucket")
        q = queries.join(qb, "query_id").select(
            "query_id", F.col("embedding").alias("qemb"), "bucket"
        )
        scored = q.join(self.index, "bucket")
        if exclude_self:
            scored = scored.where(F.col("query_id") != F.col("vec_id"))
        scored = (
            scored.select(
                "query_id",
                "vec_id",
                F.round(
                    _dot(F.col("qemb"), F.col("embedding"))
                    / (
                        F.sqrt(_norm2(F.col("qemb")))
                        * F.sqrt(_norm2(F.col("embedding")))
                    ),
                    6,
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
        return (
            scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= k)
            .select("query_id", "vec_id", "cosine", "rnk")
        )


def run_streaming_ann_index(
    spark: SparkSession,
    emb_dir: str,
    schema: str = EMB_SCHEMA,
    planes: int = 12,
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
    state_table: str | None = None,
    state_buckets: int = 8,
) -> StreamingAnnIndex:
    """Drive :class:`StreamingAnnIndex` over ``emb_dir`` with an
    availableNow trigger and block until the backlog drains. Checkpoint
    defaults to a sibling directory (inside ``emb_dir`` it would sit in
    the file source's watched tree)."""
    sink = StreamingAnnIndex(
        planes, state_table=state_table, state_buckets=state_buckets
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(emb_dir)
        .writeStream.foreachBatch(sink.process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{emb_dir.rstrip('/')}_ann_ckpt",
        )
        .start()
    )
    q.awaitTermination()
    return sink
