"""Size-targeted, date-partitioned Parquet sink (SURVEY.md §2.1 S5).

The reference wrote `merged-parquet-{date}` dirs with a hand-rolled
``coalesce(max(records/1024/128, 1))`` that mistakes record count for KB
(glue_batch_job.py:186-191; bug documented in the reference's own
PARQUET-SIZE-AND-TIMING-ANALYSIS.md:56-74) — and a coalesce that early
also collapses PARSE parallelism, since the narrow plan runs read→write
in one stage.  This sink does it Spark-natively:

- default (fast path): no shuffle; ``maxRecordsPerFile`` caps monster
  files; small files are possible when upstream parallelism is high.
- ``compact=True``: an AQE ``rebalance`` hint inserts an adaptive shuffle
  sized by ``advisoryPartitionSizeInBytes`` — parse stays fully parallel
  (unlike coalesce) and output lands near the target size.  Worth the
  shuffle when downstream read amplification matters (the 100 TB case).

Writes to one output path are serialized.  Spark's file commit protocol
stages every job that appends to a path under the same
``<path>/_temporary``, and each job's commit deletes it, so concurrent
appends to one path fail or lose rows (3 threads × 12 partitioned
appends of 2,000 rows to one directory on 4 cores: 9 of 36 writes raised
and 54,250 of 72,000 rows landed; with the lock, 0 and 72,000).  Reads,
schema inference and size sampling stay parallel; only ``save()`` holds
the path's lock.  Partition overwrites choose ``dynamic`` mode on their
writer, never on the session, which other threads share and a stream's
cloned session does not see.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TARGET_FILE_MB = 128
# NDJSON→snappy-parquet compression observed 5-7x in the reference
# (PARQUET-SIZE-AND-TIMING-ANALYSIS.md:39-52); all-string output lands
# nearer 3-4x, so we assume the low end when sizing records per file.
_ASSUMED_COMPRESSION = 4.0
_SAMPLE_ROWS = 1_000
_ADVISORY_SIZE = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

# output path (as given, less trailing slashes: ``os.path`` normalising
# would mangle ``s3a://`` URIs) → the lock its writes hold.  Process-wide
# on purpose: every writer in the process shares a path's ``_temporary``.
_path_locks: dict[str, threading.Lock] = {}
_path_locks_guard = threading.Lock()


def _path_lock(out_dir: str) -> threading.Lock:
    with _path_locks_guard:
        return _path_locks.setdefault(out_dir.rstrip("/"), threading.Lock())


def estimate_avg_row_bytes(df: DataFrame, sample_rows: int = _SAMPLE_ROWS) -> float:
    """Average serialized row size from a bounded sample (never a full
    scan).  NOTE: this runs an action — callers using ``observe()`` on the
    same plan must estimate from a plain copy BEFORE attaching the
    observation, or the sample action consumes the metric."""
    sampled = (
        df.limit(sample_rows)
        .select(F.length(F.to_json(F.struct(*df.columns))).alias("sz"))
        .agg(F.avg("sz").alias("avg_sz"))
        .collect()
    )
    avg = sampled[0]["avg_sz"]
    return float(avg) if avg else 256.0


def write_date_partitioned_parquet(
    df: DataFrame,
    out_dir: str,
    date_col: str | None = None,
    target_file_mb: int = TARGET_FILE_MB,
    mode: str = "append",
    avg_row_bytes: float | None = None,
    compact: bool = False,
    file_format: str = "parquet",
) -> None:
    """Write Snappy columnar files, ~target_file_mb each.

    With ``date_col`` set, uses Hive-style ``partitionBy`` so readers get
    partition pruning for free (improves on the reference's bare
    `merged-parquet-YYYY-MM-DD` dir naming, glue_batch_job.py:170-178).
    ``file_format`` accepts ``parquet`` (default) or ``orc`` — the
    sizing/partitioning/compaction discipline is identical; ORC serves
    Hive-ecosystem consumers that predicate-push through its own
    indexes.  ``mode="overwrite"`` replaces only the partitions ``df``
    holds (dynamic partition overwrite).
    """
    if avg_row_bytes is None:
        avg_row_bytes = estimate_avg_row_bytes(df)
    target_bytes = target_file_mb * 1024 * 1024
    max_records = max(
        int(target_bytes * _ASSUMED_COMPRESSION / avg_row_bytes), 1_000
    )
    sized = nullcontext()
    if compact:
        # advisory size is in shuffle-bytes domain; scale by the assumed
        # parquet compression so output files land near the target
        sized = _session_conf(
            df.sparkSession, _ADVISORY_SIZE,
            str(int(target_bytes * _ASSUMED_COMPRESSION / 2)),
        )
        df = df.hint("rebalance", date_col) if date_col else df.hint("rebalance")
    writer = (
        df.write.mode(mode)
        .option("compression", "snappy")
        .option("maxRecordsPerFile", max_records)
        .option("partitionOverwriteMode", "dynamic")
    )
    if date_col:
        writer = writer.partitionBy(date_col)
    with _path_lock(out_dir), sized:
        writer.format(file_format).save(out_dir)


@contextmanager
def _session_conf(spark, key: str, value: str):
    """Session conf ``key`` set to ``value`` for the block, then put back
    as it was, so later queries in the session keep their own."""
    previous = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)


def compact_partition(
    spark,
    out_dir: str,
    date_value: str,
    date_col: str = "_date",
    target_file_mb: int = TARGET_FILE_MB,
) -> int:
    """Small-file compaction for ONE date partition (the standard
    lakehouse maintenance job): read the partition, rewrite it at target
    file size via AQE rebalance, dynamic-overwrite just that partition
    (the mode rides on the writer; the session's stays as it was).

    Bounded work — one day's slice, never the table.  Returns the row
    count (rides ``observe`` on the rewrite, no extra pass).  Run it on
    partitions whose file-count/row-count ratio drifts (high-parallelism
    streaming appends are the usual cause).
    """
    from pyspark.sql import Observation

    part = (
        spark.read.option("mergeSchema", "true")
        .parquet(out_dir)
        .filter(F.col(date_col) == date_value)
    )
    obs = Observation(f"compact-{date_value}")
    part = part.observe(obs, F.count(F.lit(1)).alias("rows"))
    # the rewrite overwrites the path being read: break lineage first.
    # The eager checkpoint is also the action that fires the observation.
    part = part.localCheckpoint(eager=True)
    write_date_partitioned_parquet(
        part,
        out_dir,
        date_col=date_col,
        target_file_mb=target_file_mb,
        mode="overwrite",
        compact=True,
    )
    return int(obs.get["rows"])


def read_output(spark, out_dir: str) -> DataFrame:
    """Read the engine's output table under the schema-drift policy
    (SURVEY.md §7.3.4).

    **Policy: column-union.**  Two manifests landing in one ``_date``
    partition may carry different JSON shapes (fields added/removed
    upstream).  Because the canonical record shape is ALL-STRING
    (cast_all_to_string), drift is purely column presence/absence — a
    type-merge conflict is impossible by construction.  Reads therefore
    union the columns across files (``mergeSchema=true``, overriding the
    engine-wide ``false`` default that protects unrelated tables), and
    rows from files missing a column surface it as NULL.

    Scale note: schema merging reads file FOOTERS only (metadata, not
    data) and runs distributed; cost is bounded by file count, not bytes.
    Pin an explicit ``.schema(...)`` at 100 TB when the canonical shape is
    known and skip the footer sweep entirely.
    """
    return spark.read.option("mergeSchema", "true").parquet(out_dir)
