"""The core batch transform: NDJSON manifest → all-string Parquet.

This is the reference's only Spark program (glue_batch_job.py:92-209),
re-expressed single-pass:

reference                               this engine
---------                               -----------
read manifest JSON (boto3)              resolve_manifest()
spark.read.json(paths)                  same (S1)
+ _processing_timestamp/_source_file    with_metadata_columns (P2)
df.count()  # action 1                  observe() metric — no extra action
cast all → string                       cast_all_to_string (P1)
cache() + count()  # action 2           (dropped — single pass)
coalesce(records/1024/128)  # bug       maxRecordsPerFile via sampled bytes
write.mode(append).parquet              write_date_partitioned_parquet (S5)

The double-count + cache of the reference costs a full extra pass over
100 TB; ``observe`` attaches the row count to the single write action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from high_throughput_etl_pipeline_spark.functions.scalar import (
    cast_all_to_string,
    with_metadata_columns,
)
from high_throughput_etl_pipeline_spark.sources.ndjson import (
    read_ndjson,
    resolve_manifest,
)
from high_throughput_etl_pipeline_spark.sources.parquet_sink import (
    write_date_partitioned_parquet,
)


def transform(df: DataFrame) -> DataFrame:
    """metadata columns + all-string cast — the canonical record shape."""
    return cast_all_to_string(with_metadata_columns(df))


def process_manifest(
    spark: SparkSession,
    manifest: dict | str | list[str],
    output_dir: str,
    date_prefix: str | None = None,
    schema=None,
    source_format: str = "ndjson",
) -> int:
    """Run one manifest end-to-end; returns records written.

    ``manifest`` may be the reference-shaped doc, its JSON string, or a
    plain list of paths.  Output lands under ``output_dir`` partitioned by
    ``_date`` (Hive layout superseding the reference's
    `merged-parquet-YYYY-MM-DD` dir naming so readers prune partitions).
    ``source_format`` accepts ``ndjson`` (the reference's drop-zone
    format) or ``csv`` — same downstream shape either way (metadata
    columns, all-string cast, sized date-partitioned sink).
    """
    paths = (
        manifest if isinstance(manifest, list) else resolve_manifest(manifest)
    )
    if source_format == "ndjson":
        raw = read_ndjson(spark, paths, schema=schema)
    elif source_format == "csv":
        from high_throughput_etl_pipeline_spark.sources.delimited import (
            read_csv,
        )

        raw = read_csv(spark, paths, schema=schema)
    else:
        raise ValueError(
            f"unknown source_format {source_format!r} (ndjson|csv)"
        )
    # estimate row size from a plain copy FIRST: the sampling action would
    # otherwise consume the observation below and report a partial count
    from high_throughput_etl_pipeline_spark.sources.parquet_sink import (
        estimate_avg_row_bytes,
    )
    avg_row = estimate_avg_row_bytes(transform(raw))
    obs = Observation("ingest")
    shaped = transform(raw).observe(obs, F.count(F.lit(1)).alias("rows"))
    if date_prefix is None:
        # event-time date from the source file name (ST3 semantics)
        from high_throughput_etl_pipeline_spark.functions.scalar import (
            extract_date_prefix,
        )
        shaped = shaped.withColumn(
            "_date", extract_date_prefix(F.col("_source_file"))
        )
    else:
        shaped = shaped.withColumn("_date", F.lit(date_prefix))
    write_date_partitioned_parquet(
        shaped, output_dir, date_col="_date",
        avg_row_bytes=avg_row,
    )
    return int(obs.get["rows"])
