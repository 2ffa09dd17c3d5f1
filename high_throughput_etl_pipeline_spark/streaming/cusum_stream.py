"""Streaming CUSUM change-point monitor.

The streaming twin of ``operators/timeseries.py:cusum_alarms``, split
along the merge/fold boundary: per-(group, day) COUNTS are mergeable
(sums commute — safe to accumulate across micro-batches in any
arrival order, even when one day's rows are split across batches), the
CUSUM recursion is NOT (the max(0,·) clamp is order-sensitive) — so the
store accumulates exact counts and the fold runs at READ time over the
complete stored series, via the batch operator itself.  Stream ≡ batch
then holds by construction, and the batch operator is the oracle for
every read (pinned in tests).

Monitoring contract: ``stored_cusum`` takes a FROZEN (target,
allowance) reference level — the production CUSUM shape (a level
re-derived from live data drifts toward the anomaly it is supposed to
flag).

Storage discipline = ``streaming/store.py`` snapshot algebra, exactly
as ``drift_stream``/``sketch_stream``: each merge publishes the full
(calendar-bounded: groups × days) merged count table as ``batch_<id>``
with the absorbed-through marker inside the same atomic rename,
replayed batch ids no-op, fresh checkpoints fence, reads are
non-destructive, superseded snapshots retire by deferred retention.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from high_throughput_etl_pipeline_spark.streaming import store as _store

COUNTS_SCHEMA = "grp STRING, d DATE, n BIGINT"


def _current_snapshot(table_path: str) -> str | None:
    dirs = _store.batch_dirs(table_path)
    return dirs[-1] if dirs else None


def merge_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    group_col: str = "event_type",
    ts_col: str = "ts",
    stream_id: str | None = None,
) -> bool:
    """Fold one micro-batch's (group, day) counts into the stored
    series; False on a replayed batch id (at-least-once foreachBatch)."""
    if os.path.isdir(table_path):
        # deferred retention: heal snapshots superseded by PREVIOUS
        # merges at the start of the next maintainer call, never right
        # after publish (a concurrent read may hold the old listing)
        _store.batch_dirs(table_path, heal=True)
    if stream_id is not None:
        _store.stamp_raw_stream_id(table_path, stream_id, "cusum")
    if _store.already_absorbed(table_path, batch_id):
        return False
    spark = batch.sparkSession
    delta = batch.select(
        F.col(group_col).cast("string").alias("grp"),
        F.to_date(ts_col).alias("d"),
    ).groupBy("grp", "d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cur = _current_snapshot(table_path)
    if cur is not None:
        stored = spark.read.schema(COUNTS_SCHEMA).parquet(cur)
        merged = (
            stored.unionByName(delta)
            .groupBy("grp", "d")
            .agg(F.sum("n").cast("bigint").alias("n"))
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


def start_cusum_stream(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    ts_col: str = "ts",
    available_now: bool = False,
):
    """Maintain the live (group, day) count series from a streaming
    frame."""
    stream_id = _store.stream_id(checkpoint_dir)

    def handle(batch: DataFrame, batch_id: int) -> None:
        merge_batch(
            batch, batch_id, table_path, group_col, ts_col, stream_id
        )

    writer = (
        events.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stored_cusum(
    spark: SparkSession,
    table_path: str,
    target: int,
    allowance: int,
    h_mult: int = 4,
) -> DataFrame:
    """CUSUM alarms over the STORED complete day series against the
    frozen (target, allowance) reference — the fold is the batch
    operator itself (``cusum_alarms``), so the streamed read equals
    the batch answer on the same rows by construction."""
    from high_throughput_etl_pipeline_spark.operators.timeseries import (
        cusum_alarms,
    )

    cur = _current_snapshot(table_path)
    if cur is None:
        daily = spark.createDataFrame([], COUNTS_SCHEMA)
    else:
        daily = spark.read.schema(COUNTS_SCHEMA).parquet(cur)
    return cusum_alarms(
        daily,
        group_col="grp",
        order_col="d",
        x_col="n",
        h_mult=h_mult,
        target=target,
        allowance=allowance,
    )
