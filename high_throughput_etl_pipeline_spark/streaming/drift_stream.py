"""Streaming distribution-drift monitor (incremental PSI).

The streaming twin of ``plans/metrics.py:population_stability``: the
REFERENCE distribution is frozen as decile edges (computed once, from
the training snapshot), and the stream maintains a bucket-count table —
each micro-batch folds its rows into buckets map-side and merges a
≤(n_buckets+1)-row delta into a snapshot store.  ``stored_psi`` then
answers "how far has live traffic drifted from what the model was
trained on" from the stored counts alone, in milliseconds, at any time.

Storage discipline = ``streaming/store.py`` snapshot algebra, exactly as
``sketch_stream``: each merge publishes the full (tiny) merged count
table as ``batch_<id>`` with the absorbed-through marker inside the same
atomic rename, replayed batch ids no-op, fresh checkpoints fence, reads
are non-destructive, superseded snapshots retire by deferred retention.
Exact integer counts make the merge trivially idempotent-safe under the
replay guard (sum of deltas, each applied once).

At 100 TB/day the stored state is ~n_buckets longs — the scan cost is
the micro-batch itself; drift evaluation never rescans history.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from high_throughput_etl_pipeline_spark.streaming import store as _store

COUNTS_SCHEMA = "bucket INT, n BIGINT"


def bucket_expr(value_col: str, edges: list[float]) -> F.Column:
    """Bucket id = number of reference edges strictly below the value —
    the same fold population_stability uses, over a literal edge list
    (the frozen training-time deciles)."""
    arr = F.array(*[F.lit(float(e)) for e in edges])
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, e: acc + F.when(F.col(value_col) > e, 1).otherwise(0),
    ).cast("int")


def _current_snapshot(table_path: str) -> str | None:
    dirs = _store.batch_dirs(table_path)
    return dirs[-1] if dirs else None


def merge_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    edges: list[float],
    value_col: str = "value",
    stream_id: str | None = None,
) -> bool:
    """Fold one micro-batch into the stored bucket counts; False on a
    replayed batch id (at-least-once foreachBatch)."""
    if os.path.isdir(table_path):
        # deferred retention: heal snapshots superseded by PREVIOUS
        # merges at the start of the next maintainer call, never right
        # after publish (a concurrent read may hold the old listing)
        _store.batch_dirs(table_path, heal=True)
    if stream_id is not None:
        _store.stamp_raw_stream_id(table_path, stream_id, "drift")
    if _store.already_absorbed(table_path, batch_id):
        return False
    spark = batch.sparkSession
    delta = (
        batch.select(bucket_expr(value_col, edges).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cur = _current_snapshot(table_path)
    if cur is not None:
        stored = spark.read.schema(COUNTS_SCHEMA).parquet(cur)
        merged = (
            stored.unionByName(delta)
            .groupBy("bucket")
            .agg(F.sum("n").alias("n"))
        )
    else:
        merged = delta
    out_dir = _store.batch_dir(table_path, batch_id)
    staging = out_dir + "._staging"
    shutil.rmtree(staging, ignore_errors=True)
    merged.coalesce(1).write.mode("overwrite").parquet(staging)
    _store.write_absorbed_marker(staging, batch_id)
    _store.publish(staging, out_dir)
    return True


def start_drift_stream(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    edges: list[float],
    value_col: str = "value",
    available_now: bool = False,
):
    """Maintain the live bucket-count table from a streaming frame."""
    stream_id = _store.stream_id(checkpoint_dir)

    def handle(batch: DataFrame, batch_id: int) -> None:
        merge_batch(
            batch, batch_id, table_path, edges, value_col, stream_id
        )

    writer = (
        events.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stored_psi(
    spark: SparkSession,
    table_path: str,
    ref_counts: list[int],
    min_prop: float = 1e-6,
) -> DataFrame:
    """PSI of the STORED live counts against the frozen reference
    bucket counts (one integer per bucket, shipped with the edges as
    the training-snapshot artifact).  Same term arithmetic and
    fold-in-bucket-order summation as ``population_stability`` — the
    batch operator is the oracle for this read (pinned in tests).

    Output (one row): (n_ref, n_cur, psi, worst_bucket, worst_contrib,
    n_shifted_buckets).
    """
    cur = _current_snapshot(table_path)
    if cur is None:
        live = spark.createDataFrame([], COUNTS_SCHEMA)
    else:
        live = spark.read.schema(COUNTS_SCHEMA).parquet(cur)
    ref = spark.createDataFrame(
        list(enumerate(ref_counts)), "bucket INT, n_ref BIGINT"
    )
    tot = ref.agg(F.sum("n_ref").alias("_tr")).crossJoin(
        live.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("_tc"))
    )
    joined = (
        ref.join(live, on="bucket", how="full")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "_tr",
            "_tc",
            F.greatest(
                F.coalesce(F.col("n_ref"), F.lit(0)) / F.col("_tr"),
                F.lit(min_prop),
            ).alias("_p"),
            F.greatest(
                F.coalesce(F.col("n"), F.lit(0)) / F.col("_tc"),
                F.lit(min_prop),
            ).alias("_q"),
        )
        .withColumn(
            "_term",
            (F.col("_p") - F.col("_q")) * F.log(F.col("_p") / F.col("_q")),
        )
        .withColumn("_shift", (F.abs(F.col("_p") - F.col("_q")) > 0.02))
    )
    return joined.groupBy().agg(
        F.max("_tr").cast("bigint").alias("n_ref"),
        F.max("_tc").cast("bigint").alias("n_cur"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("bucket", "_term"))
                    ),
                    lambda s: s["_term"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("psi"),
        F.expr(
            "max_by(bucket, named_struct('t', _term, 'b', -bucket))"
        )
        .cast("int")
        .alias("worst_bucket"),
        F.round(F.max("_term"), 6).alias("worst_contrib"),
        F.sum(F.col("_shift").cast("int")).cast("int").alias(
            "n_shifted_buckets"
        ),
    )
