"""Incremental stored quantile-sketch maintenance over a stream (ST6/ST8
× the sketch family — the order-statistics twin of ``sketch_stream``).

The 100 TB operating mode for streaming percentiles: every micro-batch
collapses its rows into a per-day LOG-BUCKETED histogram (HDR-style:
bucket = floor(log2(v) * SUBBUCKETS), so each bucket spans a constant
RELATIVE width of 2^(1/SUBBUCKETS) ≈ 4.4 % at the default 16), and the
stored per-day sketch is the bucket-wise SUM of the stored counts with
the batch counts — a read-modify-write of KBs, never a rescan of
history.  Any later quantile question walks the cumulative bucket
counts in milliseconds and answers within one bucket's relative error.

Why log buckets and not equi-width: the sketch must be parameter-free
at merge time (no global min/max to agree on before the stream starts)
and mergeable across arbitrary day/batch splits — fixed absolute-width
buckets need a range oracle, rank-based summaries (GK/KLL/t-digest)
carry merge-order-dependent state.  Log-bucket counts are exact
integers whose merge is plain addition: the stream-built table equals
the batch-built table bit-for-bit, which is what the equality test
pins.

Storage discipline: identical to ``sketch_stream`` — ``store.py``
snapshot algebra (``batch_<id>`` + ``_absorbed_through`` marker, one
atomic publish rename, deferred heal at the START of the next
maintainer call, monotonic-id replay guard, ``_stream_id``
checkpoint-lineage fence).  Unlike the HLL union, a count-sum merge is
NOT replay-idempotent, so the id guard is load-bearing here for the
data itself, not just the row counts.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from high_throughput_etl_pipeline_spark.streaming import store as _store
from high_throughput_etl_pipeline_spark.streaming.sketch_stream import (
    _current_snapshot,
)

QSK_SUBBUCKETS = 16
QSK_SCHEMA = "date STRING, bucket BIGINT, n BIGINT"
# values <= 0 (or null) collapse into one sentinel bucket far below any
# log2 bucket of a positive double (log2(min subnormal) * 16 ~ -17000)
QSK_FLOOR_BUCKET = -(1 << 20)


def _bucket_col(value_col: str):
    v = F.col(value_col)
    return (
        F.when(
            v > 0,
            F.floor(F.log2(v) * F.lit(QSK_SUBBUCKETS)).cast("bigint"),
        )
        .otherwise(F.lit(QSK_FLOOR_BUCKET))
        .alias("bucket")
    )


def histogram_of(
    df: DataFrame, value_col: str = "value", ts_col: str = "ts"
) -> DataFrame:
    """(date, bucket, n) log-histogram of a batch frame — the exact
    aggregate the stream maintains incrementally, exposed so the
    stream ≡ batch equality is testable against one shared definition."""
    return df.groupBy(
        F.to_date(ts_col).cast("string").alias("date"),
        _bucket_col(value_col),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


def merge_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    value_col: str = "value",
    ts_col: str = "ts",
    stream_id: str | None = None,
) -> bool:
    """foreachBatch body: histogram the batch per day, sum into the
    stored table, publish the merged snapshot as ``batch_<id>``.
    Returns False (no-op) for a replayed batch id — count sums would
    double under replay, unlike the HLL union next door."""
    if os.path.isdir(table_path):
        _current_snapshot(table_path)  # layout assert (legacy raises)
        _store.batch_dirs(table_path, heal=True)
    if stream_id is not None:
        _store.stamp_raw_stream_id(table_path, stream_id, "qsketch")
    if _store.already_absorbed(table_path, batch_id):
        return False
    spark = batch.sparkSession
    daily = histogram_of(batch, value_col, ts_col)
    cur = _current_snapshot(table_path)
    if cur is not None:
        stored = spark.read.schema(QSK_SCHEMA).parquet(cur)
        merged = (
            stored.unionByName(daily)
            .groupBy("date", "bucket")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
    else:
        merged = daily
    out_dir = _store.batch_dir(table_path, batch_id)
    staging = out_dir + "._staging"
    shutil.rmtree(staging, ignore_errors=True)
    merged.coalesce(1).write.mode("overwrite").parquet(staging)
    _store.write_absorbed_marker(staging, batch_id)
    _store.publish(staging, out_dir)
    return True


def start_quantile_stream(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    value_col: str = "value",
    ts_col: str = "ts",
    available_now: bool = False,
):
    """Maintain per-day log-bucket value histograms from a streaming
    frame.  Restart from the same checkpoint must not double-count:
    replayed batch ids are detected via the published snapshot id and
    skipped (tested by the restart leg of the streaming suite)."""
    stream_id = _store.stream_id(checkpoint_dir)

    def handle(batch: DataFrame, batch_id: int) -> None:
        merge_batch(
            batch, batch_id, table_path, value_col, ts_col, stream_id
        )

    writer = (
        events.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stored_quantile_estimates(
    spark: SparkSession,
    table_path: str,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Answer per-day quantiles from the STORED histogram alone:
    (date, q, est, n_rows).  The estimate is the log-space midpoint of
    the first bucket whose cumulative count reaches ceil(q * n) — the
    classic type-1 (lower) quantile at histogram resolution, within
    one bucket's ~4.4 % relative width of the true order statistic.
    Non-destructive read (serves the latest snapshot mid-crash-window,
    same as the distinct-sketch reader)."""
    from pyspark.sql import Window

    cur = _current_snapshot(table_path)
    if cur is None:
        return spark.createDataFrame(
            [], "date STRING, q DOUBLE, est DOUBLE, n_rows BIGINT"
        )
    t = spark.read.schema(QSK_SCHEMA).parquet(cur)
    # date-range answers are the same walk over summed buckets — the
    # ALL row mirrors stored_distinct_estimates' union row
    t = t.unionByName(
        t.groupBy(F.lit("ALL").alias("date"), "bucket").agg(
            F.sum("n").cast("bigint").alias("n")
        )
    )
    wcum = (
        Window.partitionBy("date")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = t.select(
        "date",
        "bucket",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(Window.partitionBy("date")).alias("n_rows"),
    )
    qlits = F.array(*[F.lit(float(q)) for q in qs])
    hits = (
        cum.select("*", F.explode(qlits).alias("q"))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n_rows")))
        .groupBy("date", "q")
        .agg(
            F.min("bucket").alias("bucket"),
            F.first("n_rows").alias("n_rows"),
        )
    )
    est = F.when(
        F.col("bucket") == QSK_FLOOR_BUCKET, F.lit(0.0)
    ).otherwise(
        F.pow(
            F.lit(2.0),
            (F.col("bucket") + 0.5) / F.lit(float(QSK_SUBBUCKETS)),
        )
    )
    return hits.select(
        "date", "q", est.alias("est"), "n_rows"
    ).orderBy("date", "q")
