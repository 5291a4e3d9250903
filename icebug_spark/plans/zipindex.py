"""Distributed dense indexing (zipWithIndex) for DataFrames.

The naive dense relabel — ``dense_rank`` / ``row_number`` over
``Window.orderBy(col)`` with no partitionBy — plans an Exchange
SinglePartition: ONE task receives and sorts every row, the classic
global-rank bottleneck at 1e9 keys. The scale shape is the two-pass
zipWithIndex: range-partition by the key, count each partition (a tiny
P-row collect), then rank WITHIN each range partition in parallel and
add the cumulative offset of the partitions before it. The result is
the identical deterministic dense rank by ascending key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def running_sums(
    values: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    descending: bool = False,
) -> DataFrame:
    """Global cumulative sums of ``sum_cols`` in ``order_cols`` order
    without a single-partition window: range-partition by the ordering,
    sum per partition (tiny P-row collect), then window WITHIN each range
    partition in parallel and add the broadcast offset of the partitions
    before it. Ties in ``order_cols`` accumulate in arbitrary relative
    order — pass a unique ordering (or pre-aggregate per key) when the
    per-row running value matters. ``sum_cols`` must be integer-valued
    (offsets travel as BIGINT)."""
    order_exprs = [
        F.col(c).desc() if descending else F.col(c).asc() for c in order_cols
    ]
    # materialize so spark_partition_id is stable across the totals
    # pass and the window pass (range boundaries come from a sample)
    v = checkpoint(values.repartitionByRange(*order_exprs)).withColumn(
        "__pid", F.spark_partition_id()
    )
    spark = v.sparkSession
    per = {
        r["__pid"]: r
        for r in v.groupBy("__pid")
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .collect()
    }
    rows, acc = [], {c: 0 for c in sum_cols}
    for pid in sorted(per):
        rows.append((pid, *[acc[c] for c in sum_cols]))
        for c in sum_cols:
            acc[c] += per[pid][c] or 0
    schema = "__pid INT, " + ", ".join(f"__off_{c} BIGINT" for c in sum_cols)
    off = F.broadcast(
        spark.createDataFrame(rows or [(0, *[0] * len(sum_cols))], schema)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = v.join(off, "__pid")
    for c in sum_cols:
        out = out.withColumn(c, F.sum(c).over(w) + F.col(f"__off_{c}"))
    return out.drop("__pid", *[f"__off_{c}" for c in sum_cols])


def dense_index(
    values: DataFrame,
    cols: list[str],
    out: str = "dense",
    assume_distinct: bool = False,
) -> DataFrame:
    """Mapping (cols..., out): dense 0..k-1 over the DISTINCT ``cols``
    tuples in ascending order — two-pass zipWithIndex, no
    single-partition Exchange. ``assume_distinct=True`` skips the
    dedup shuffle when the caller guarantees unique tuples."""
    v = values.select(*cols)
    if not assume_distinct:
        v = v.distinct()
    # materialize so spark_partition_id is stable across the count
    # pass and the rank pass (range boundaries come from a sample)
    v = checkpoint(v.repartitionByRange(*[F.col(c) for c in cols])).withColumn(
        "__pid", F.spark_partition_id()
    )
    spark = v.sparkSession
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in v.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "__pid INT, __off BIGINT")
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        v.join(off, "__pid")
        .withColumn(out, (F.row_number().over(w) - 1 + F.col("__off")).cast("long"))
        .drop("__pid", "__off")
    )
