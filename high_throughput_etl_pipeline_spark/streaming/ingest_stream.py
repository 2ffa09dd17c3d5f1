"""Structured Streaming ingest (SURVEY.md §2.6 ST1-ST8).

The event-driven half of the reference (S3 events→SQS→Lambda→DynamoDB
streams→manifests) collapses into ONE streaming query:

- new-file discovery      = file source (S3/dir listing), the reference's
                            S3 notification + SQS (ST1/S3 source)
- manifest batching       = ``maxFilesPerTrigger`` (MAX_FILES_PER_MANIFEST)
- exactly-once            = checkpoint (no reprocessing of committed
                            batches) + a PER-BATCH-IDEMPOTENT sink (ST4):
                            output partitions carry the batch id and each
                            batch writes with dynamic partition OVERWRITE,
                            so a replay of an uncommitted batch rewrites
                            its own partitions instead of appending
                            duplicates.  (foreachBatch alone is only
                            at-least-once; a plain append sink would
                            duplicate rows on replay-after-sink-write.)
- event-time dating       = date from file name, not arrival (ST3)
- late data / orphans     = files of old dates simply land in their date
                            partition — partitioned sink makes the
                            reference's orphan-flush machinery unnecessary
                            in streaming mode (ST2)
- per-batch state updates = foreachBatch upserts into FileStateTracker (ST5)

Batch mode remains the default for backfills (the reference's own
conclusion, STREAMING-VS-BATCH.md); `available_now=True` gives the
drain-then-stop hybrid.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from high_throughput_etl_pipeline_spark.functions.scalar import (
    extract_date_prefix,
)
from high_throughput_etl_pipeline_spark.ingest import transform
from high_throughput_etl_pipeline_spark.operators.batching import (
    MAX_FILES_PER_MANIFEST,
)
from high_throughput_etl_pipeline_spark.state.tracker import FileStateTracker
from high_throughput_etl_pipeline_spark.streaming.store import stream_id


def start_ingest_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    state_path: str | None = None,
    max_files_per_trigger: int = MAX_FILES_PER_MANIFEST,
    available_now: bool = True,
) -> StreamingQuery:
    """NDJSON dir → all-string date-partitioned Parquet, streaming.

    ``schema`` is required: streaming file sources cannot infer (and at
    100 TB you never want inference anyway).
    """
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(input_dir)
    )
    shaped = transform(raw).withColumn(
        "_date", extract_date_prefix(F.col("_source_file"))
    )

    tracker = FileStateTracker(spark, state_path) if state_path else None
    # claims are named per checkpoint: streams sharing one state table
    # number their batches from 0 each, and must not skip each other's
    claim_prefix = f"stream-{stream_id(checkpoint_dir)}-batch-"

    def handle_batch(batch_df, batch_id: int) -> None:
        claim = f"{claim_prefix}{batch_id}"
        # ST4 idempotency: if a replayed batch was already fully committed
        # (status flip is the LAST step), skip it outright …
        if tracker is not None:
            already = (
                tracker.state()
                .filter(
                    (F.col("manifest_path") == claim)
                    & F.col("status").startswith("completed")
                )
                .limit(1)
                .count()
            )
            if already:
                return
            files = (
                batch_df.select(F.col("_source_file").alias("file_path"))
                .distinct()
                .withColumn("date_prefix", extract_date_prefix(F.col("file_path")))
                .withColumn(
                    "file_name",
                    F.element_at(F.split(F.col("file_path"), "/"), -1),
                )
                .withColumn("file_size_mb", F.lit(None).cast("double"))
            )
            tracker.track_files(files)
        # … and the sink itself is idempotent regardless of the tracker:
        # partitions carry the batch id, and dynamic partition overwrite
        # makes a replay rewrite `_batch={id}/...` in place (never append
        # the same rows twice).  The mode rides on the writer: this batch
        # runs in the stream's cloned session, which a conf set on the
        # outer session never reaches (static mode there would wipe the
        # earlier batches' partitions)
        (
            batch_df.withColumn("_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch", "_date")
            .option("compression", "snappy")
            .parquet(output_dir)
        )
        if tracker is not None:
            tracker.claim_files(
                files.select(
                    "date_prefix",
                    F.col("file_name").alias("file_key"),
                    F.lit(claim).alias("manifest_path"),
                )
            )
            tracker.update_status_for_manifest(claim, "completed")

    writer = shaped.writeStream.option("checkpointLocation", checkpoint_dir)
    writer = writer.foreachBatch(handle_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
