"""Streaming deduplication over a document stream.

Training-data pipelines ingest continuously; dedup must run AS the data
arrives, not as a nightly batch over the full corpus. Two operators:

- :func:`streaming_exact_dedup` — exact dedup as a pure Structured
  Streaming plan: fingerprint (same normalization as the batch
  ``llm.dedup.exact_duplicates``) + ``dropDuplicates`` — Spark's
  built-in stateful operator keeps one state row per distinct
  fingerprint and emits only first-seen docs. At production scale add
  ``withWatermark`` + ``dropDuplicatesWithinWatermark`` to bound state.

- :class:`StreamingLshDedup` — incremental MinHash-LSH near-dup
  flagging via ``foreachBatch``: a persistent (band, bucket, doc_id)
  state table accrues one row set per arrived doc; each micro-batch's
  docs join the state (docs that arrived before them) plus themselves,
  so the union of flagged pairs over the stream equals the batch LSH
  candidate set over the same corpus (asserted in tests with
  maxFilesPerTrigger-split input). Bucket keys come from the SAME
  ``llm.dedup.band_buckets`` used by the batch path — stream/batch
  parity by construction, not by re-implementation. State grows one
  row per (doc, band). The cluster shape is IMPLEMENTED (not just
  documented): pass ``state_table`` and state persists as a managed
  table bucketed by (band, bucket) — exactly the probe-join key — with
  append-only growth for both state and pairs and no full-history
  distinct (see the class docstring for the exactly-once argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.llm.dedup import band_buckets
from icebug_spark.plans.iterate import checkpoint

DOC_SCHEMA = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"


def fingerprint_col():
    """md5 of the whitespace-normalized lowercase text — the identical
    expression the batch ``exact_duplicates`` fingerprint uses."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))


def streaming_exact_dedup(
    spark: SparkSession,
    doc_dir: str,
    schema: str = DOC_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream plan emitting first-seen docs per fingerprint. Pure
    declarative streaming (no foreachBatch): fingerprint projection +
    ``dropDuplicates`` stateful op. Returns the streaming DataFrame —
    callers attach their sink/trigger."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(doc_dir)
        .withColumn("fp", fingerprint_col())
        .dropDuplicates(["fp"])
    )


class StreamingLshDedup:
    """foreachBatch sink maintaining banded-LSH dedup state.

    After the stream drains: ``pairs`` holds (doc_a, doc_b) candidate
    near-dup pairs (doc_a < doc_b, distinct), ``state`` the accumulated
    (doc_id, band, bucket) table.

    Two state backends:

    - in-memory (default, ``state_table=None``): state and pairs are
      checkpointed session DataFrames — the simple test-harness shape.
    - persisted (``state_table="name"``): the CLUSTER shape. State lives
      in a managed parquet table BUCKETED BY (band, bucket) — exactly
      the probe-join key, so each micro-batch's inter-batch join plans
      a bucketed scan with NO Exchange on the (large) state side — and
      both state and pairs grow by per-batch APPENDS only. No
      full-history ``distinct`` is ever run: a pair (a, b) with arrival
      times t_a <= t_b can only materialize in batch t_b (intra-batch
      if t_a == t_b, else against the state snapshot that already holds
      a), so deduplicating each batch's OWN output — multi-band hits —
      makes the appended table globally duplicate-free by construction.
      Per-batch work is O(batch ⋈ state-buckets), not O(total-pairs).

      RESTART/REPLAY SAFETY: both tables carry a ``batch_id`` column.
      The tables are reset only on ``batch_id == 0`` (a genuinely fresh
      stream checkpoint) — a sink reconstructed against an existing
      checkpoint resumes with its accrued state intact. foreachBatch is
      at-least-once: a re-delivered batch id is detected per table and
      its append skipped (the two appends are checked independently, so
      a crash BETWEEN them re-appends exactly the missing one). This is
      the standard idempotent-foreachBatch recipe; on a cluster the
      same pattern runs against Delta/Iceberg with replaceWhere.
    """

    def __init__(
        self,
        n: int = 3,
        num_hashes: int = 16,
        bands: int = 4,
        state_table: str | None = None,
        state_buckets: int = 8,
    ):
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.state: DataFrame | None = None
        self.pairs: DataFrame | None = None
        self.n_batches = 0
        self.state_table = state_table
        self.state_buckets = state_buckets
        #: physical plan of the last inter-batch probe join (persisted
        #: mode) — lets tests assert the bucketed-scan / no-state-side-
        #: Exchange property of the per-batch work.
        self.last_probe_plan: str | None = None

    @property
    def _state_name(self) -> str:
        return f"{self.state_table}__state"

    @property
    def _pairs_name(self) -> str:
        return f"{self.state_table}__pairs"

    def _new_pairs(self, nb: DataFrame, prior: DataFrame | None) -> DataFrame:
        """Candidate pairs contributed by THIS batch: intra-batch plus
        new-vs-prior-state; deduped within the batch output only."""
        a = nb.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        b = nb.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
        new_pairs = (
            a.join(b, ["band", "bucket"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        if prior is not None:
            inter = (
                nb.join(
                    prior.select(F.col("doc_id").alias("prior_id"), "band", "bucket"),
                    ["band", "bucket"],
                )
                .where(F.col("prior_id") != F.col("doc_id"))
                .select(
                    F.least("prior_id", "doc_id").alias("doc_a"),
                    F.greatest("prior_id", "doc_id").alias("doc_b"),
                )
            )
            self.last_probe_plan = (
                inter._jdf.queryExecution().executedPlan().toString()
            )
            new_pairs = new_pairs.unionByName(inter)
        return new_pairs.distinct()

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        nb = checkpoint(band_buckets(
            batch_df, self.n, self.num_hashes, self.bands
        ))
        if self.state_table is not None:
            self._process_persisted(batch_df.sparkSession, nb, batch_id)
        else:
            new_pairs = self._new_pairs(nb, self.state)
            self.pairs = checkpoint(
                new_pairs
                if self.pairs is None
                else self.pairs.unionByName(new_pairs)
            )
            self.state = checkpoint(
                nb if self.state is None else self.state.unionByName(nb)
            )
        self.n_batches += 1

    def _process_persisted(
        self, spark: SparkSession, nb: DataFrame, batch_id: int
    ) -> None:
        # reset ONLY on a genuinely fresh stream (batch_id 0) — a sink
        # reconstructed against an existing checkpoint (restart) arrives
        # with batch_id > 0 and must keep the accrued state
        if batch_id == 0:
            spark.sql(f"DROP TABLE IF EXISTS {self._state_name}")
            spark.sql(f"DROP TABLE IF EXISTS {self._pairs_name}")
        have_state = spark.catalog.tableExists(self._state_name)
        prior = spark.table(self._state_name) if have_state else None
        # at-least-once replay guard, per table (a crash between the two
        # appends re-delivers the batch; each append skips independently)
        state_done = have_state and self._has_batch(prior, batch_id)
        pairs_done = spark.catalog.tableExists(self._pairs_name) and self._has_batch(
            spark.table(self._pairs_name), batch_id
        )
        if not pairs_done:
            new_pairs = self._new_pairs(
                nb, prior.where(F.col("batch_id") != batch_id) if have_state else None
            )
            # append-only growth: per-batch candidates are globally
            # unique by construction (see class docstring)
            new_pairs.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).saveAsTable(self._pairs_name)
        if not state_done:
            # state bucketed by the probe-join key: the next batch's join
            # scans the buckets in place (no Exchange on the state side)
            nb.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).bucketBy(self.state_buckets, "band", "bucket").saveAsTable(
                self._state_name
            )
        self.pairs = spark.table(self._pairs_name).drop("batch_id")
        self.state = spark.table(self._state_name).drop("batch_id")

    @staticmethod
    def _has_batch(df: DataFrame, batch_id: int) -> bool:
        return df.where(F.col("batch_id") == batch_id).limit(1).count() > 0


def run_streaming_lsh_dedup(
    spark: SparkSession,
    doc_dir: str,
    schema: str = DOC_SCHEMA,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
    state_table: str | None = None,
    state_buckets: int = 8,
) -> StreamingLshDedup:
    """Drive :class:`StreamingLshDedup` over ``doc_dir`` with an
    availableNow trigger (one micro-batch per ``max_files_per_trigger``
    files) and block until the backlog drains. The checkpoint lives in a
    SIBLING directory by default — inside ``doc_dir`` it would sit in
    the file source's watched tree. ``state_table`` switches to the
    persisted bucketed-state backend (the cluster shape)."""
    sink = StreamingLshDedup(
        n, num_hashes, bands, state_table=state_table, state_buckets=state_buckets
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(doc_dir)
        .writeStream.foreachBatch(sink.process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{doc_dir.rstrip('/')}_lsh_ckpt",
        )
        .start()
    )
    q.awaitTermination()
    return sink


class StreamingSubstrDedup:
    """foreachBatch sink maintaining incremental exact-substring
    (duplicated k-gram span) dedup state — the streaming twin of
    ``llm.dedup.duplicated_span_stats``.

    The retroactive wrinkle that distinguishes this from LSH: a k-gram
    becomes duplicated only when its SECOND occurrence arrives, which
    must flag the FIRST occurrence's span in a document from an earlier
    batch. Per micro-batch the sink therefore:

    1. merges the batch's gram occurrence counts into the cumulative
       per-gram counts;
    2. computes the batch's *newly duplicated* grams — those whose
       cumulative count crossed ``min_count`` at this batch;
    3. appends newly covered positions from two directions: the batch's
       own occurrences of any now-duplicated gram (new docs vs history),
       and PRIOR occurrences of the newly duplicated grams (retroactive
       flags on earlier docs) — de-duplicated against positions already
       covered, so the covered table is append-only and globally unique.

    After the stream drains, :meth:`finalize` returns exactly the batch
    operator's (doc_id, n_tokens, dup_tokens, dup_frac) — parity is
    structural: covered(stream) accumulates the same position set the
    batch coverage expansion produces (asserted in tests across
    maxFilesPerTrigger-split input).

    State backends mirror :class:`StreamingLshDedup`: in-memory
    checkpointed DataFrames (test harness), or managed tables via
    ``state_table`` — occurrences and counts BUCKETED BY gram (the
    probe/merge key, so the per-batch newly-dup join and count merge
    scan buckets in place), covered/tokens append-only, every append
    guarded by a per-table batch_id replay check (the same idempotent
    foreachBatch recipe; Delta/Iceberg replaceWhere on a cluster)."""

    def __init__(
        self,
        k: int = 8,
        min_count: int = 2,
        state_table: str | None = None,
        state_buckets: int = 8,
    ):
        self.k = int(k)
        self.min_count = int(min_count)
        self.state_table = state_table
        self.state_buckets = state_buckets
        self.n_batches = 0
        # in-memory state
        self.occ: DataFrame | None = None        # (doc_id, pos, gram)
        self.counts: DataFrame | None = None     # (gram, n_occ)
        self.covered: DataFrame | None = None    # (doc_id, cpos)
        self.tokens: DataFrame | None = None     # (doc_id, n_tokens)

    # --- shared per-batch pieces -------------------------------------

    def _batch_grams(self, batch_df: DataFrame) -> DataFrame:
        from icebug_spark.llm.dedup import _kgram_starts

        return checkpoint(_kgram_starts(batch_df, self.k))

    @staticmethod
    def _batch_tokens(batch_df: DataFrame) -> DataFrame:
        n_tokens = (
            F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
            .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
            .cast("long")
        )
        return batch_df.select("doc_id", n_tokens.alias("n_tokens"))

    def _new_covered(
        self,
        nbg: DataFrame,
        prior_occ: DataFrame | None,
        prior_counts: DataFrame | None,
        prior_covered: DataFrame | None,
    ) -> tuple[DataFrame, DataFrame]:
        """→ (merged cumulative counts, newly covered positions)."""
        add = nbg.groupBy("gram").agg(F.count(F.lit(1)).alias("add_occ"))
        if prior_counts is None:
            merged = add.select("gram", F.col("add_occ").alias("n_occ"))
            newly = merged.where(F.col("n_occ") >= self.min_count).select("gram")
        else:
            merged = (
                prior_counts.join(add, "gram", "full_outer")
                .select(
                    "gram",
                    (
                        F.coalesce("n_occ", F.lit(0))
                        + F.coalesce("add_occ", F.lit(0))
                    ).alias("n_occ"),
                    F.coalesce(
                        prior_counts["n_occ"], F.lit(0)
                    ).alias("__prior_occ"),
                )
            )
            newly = merged.where(
                (F.col("n_occ") >= self.min_count)
                & (F.col("__prior_occ") < self.min_count)
            ).select("gram")
            merged = merged.select("gram", "n_occ")
        dup_now = merged.where(F.col("n_occ") >= self.min_count).select("gram")
        span = lambda df: df.select(  # noqa: E731
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(self.k - 1))
            ).alias("cpos"),
        )
        cov = span(nbg.join(dup_now, "gram"))
        if prior_occ is not None:
            cov = cov.unionByName(span(prior_occ.join(newly, "gram")))
        cov = cov.distinct()
        if prior_covered is not None:
            cov = cov.join(prior_covered, ["doc_id", "cpos"], "left_anti")
        return merged, cov

    # --- in-memory backend -------------------------------------------

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        nbg = self._batch_grams(batch_df)
        nbt = self._batch_tokens(batch_df)
        if self.state_table is not None:
            self._process_persisted(batch_df.sparkSession, nbg, nbt, batch_id)
        else:
            merged, cov = self._new_covered(
                nbg, self.occ, self.counts, self.covered
            )
            self.counts = checkpoint(merged)
            self.covered = checkpoint(
                cov if self.covered is None else self.covered.unionByName(cov)
            )
            self.occ = checkpoint(
                nbg if self.occ is None else self.occ.unionByName(nbg)
            )
            self.tokens = checkpoint(
                nbt if self.tokens is None else self.tokens.unionByName(nbt)
            )
        self.n_batches += 1

    # --- persisted backend (cluster shape) ---------------------------

    def _name(self, part: str) -> str:
        return f"{self.state_table}__{part}"

    @staticmethod
    def _has_batch(df: DataFrame, batch_id: int) -> bool:
        return df.where(F.col("batch_id") == batch_id).limit(1).count() > 0

    def _process_persisted(
        self, spark: SparkSession, nbg: DataFrame, nbt: DataFrame, batch_id: int
    ) -> None:
        if batch_id == 0:
            for part in ("occ", "counts", "covered", "tokens"):
                spark.sql(f"DROP TABLE IF EXISTS {self._name(part)}")

        def exists(part: str) -> bool:
            return spark.catalog.tableExists(self._name(part))

        def prior(part: str) -> DataFrame | None:
            if not exists(part):
                return None
            return spark.table(self._name(part)).where(
                F.col("batch_id") != batch_id
            )

        # cumulative counts live as per-batch APPENDS (gram, add_occ,
        # batch_id) bucketed by gram: the cumulative sum groupBy and the
        # newly-dup join both scan buckets in place
        pc = prior("counts")
        prior_counts = (
            pc.groupBy("gram").agg(F.sum("add_occ").alias("n_occ"))
            if pc is not None
            else None
        )
        prior_occ = prior("occ")
        prior_cov = prior("covered")
        _, cov = self._new_covered(
            nbg,
            prior_occ.drop("batch_id") if prior_occ is not None else None,
            prior_counts,
            prior_cov.drop("batch_id") if prior_cov is not None else None,
        )
        add = nbg.groupBy("gram").agg(F.count(F.lit(1)).alias("add_occ"))
        writes = [
            ("counts", add, ("gram",)),
            ("occ", nbg, ("gram",)),
            ("covered", cov, None),
            ("tokens", nbt, None),
        ]
        for part, df, bucket_cols in writes:
            if exists(part) and self._has_batch(
                spark.table(self._name(part)), batch_id
            ):
                continue  # at-least-once replay: this append already landed
            w = df.withColumn("batch_id", F.lit(batch_id)).write.mode("append")
            if bucket_cols is not None:
                w = w.bucketBy(self.state_buckets, *bucket_cols)
            w.saveAsTable(self._name(part))
        self.counts = (
            spark.table(self._name("counts"))
            .groupBy("gram")
            .agg(F.sum("add_occ").alias("n_occ"))
        )
        self.covered = spark.table(self._name("covered")).drop("batch_id")
        self.occ = spark.table(self._name("occ")).drop("batch_id")
        self.tokens = spark.table(self._name("tokens")).drop("batch_id")

    # --- result ------------------------------------------------------

    def finalize(self) -> DataFrame:
        """(doc_id, n_tokens, dup_tokens, dup_frac) over everything the
        stream has seen — identical to the batch
        ``duplicated_span_stats`` on the same rows."""
        per = self.covered.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("dup_tokens")
        )
        return (
            self.tokens.join(per, "doc_id", "left")
            .select(
                "doc_id",
                "n_tokens",
                F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
                F.round(
                    F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                        F.coalesce("dup_tokens", F.lit(0))
                        / F.col("n_tokens").cast("double")
                    ),
                    6,
                ).alias("dup_frac"),
            )
        )


def run_streaming_substr_dedup(
    spark: SparkSession,
    doc_dir: str,
    schema: str = DOC_SCHEMA,
    k: int = 8,
    min_count: int = 2,
    max_files_per_trigger: int = 1,
    checkpoint_dir: str | None = None,
    state_table: str | None = None,
    state_buckets: int = 8,
) -> StreamingSubstrDedup:
    """Drive :class:`StreamingSubstrDedup` over ``doc_dir`` with an
    availableNow trigger and block until the backlog drains."""
    sink = StreamingSubstrDedup(
        k, min_count, state_table=state_table, state_buckets=state_buckets
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(doc_dir)
        .writeStream.foreachBatch(sink.process)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{doc_dir.rstrip('/')}_substr_ckpt",
        )
        .start()
    )
    q.awaitTermination()
    return sink
