"""Incremental stored-sketch maintenance over a stream (ST6/ST8 × the
sketch family).

The 100 TB operating mode for approximate distincts is: every
micro-batch sketches its own rows (KB per partition key), and the stored
per-day sketch is the UNION of the stored blob with the batch blob —
a read-modify-write of KBs, never a rescan of history.  Any later
date-range question unions the stored blobs in milliseconds.

Storage discipline: shared with the band/posting/IVF stores
(``streaming/store.py``) — this is a SNAPSHOT store expressed in the
same batch-directory algebra.  Each merge publishes the full merged
table as ``batch_<id>`` carrying an ``_absorbed_through: id`` marker,
which makes every older snapshot an absorbed original: readers serve
the latest marker-consistent directory non-destructively, and the
writer (the single maintainer) heals superseded snapshots in place
after each publish.  Publish is ONE atomic rename — the two-rename
``._old`` window the private pre-``store.py`` implementation had does
not exist here.  Replay guard (monotonic batch ids) and fresh-
checkpoint fencing (``_stream_id``) are also ``store.py``'s.

Exactly-once shape: the merge runs inside ``foreachBatch`` keyed by
(date); the published snapshot id IS the replay marker, made visible
in the same rename as the data, so a crash can never record a batch as
merged without its rows or vice versa.  HLL union is NOT idempotent
under replay in general — re-unioning the same batch blob IS (union is
idempotent for identical sketches: max-register semantics), but the
n_rows recount is not, hence the id guard.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from high_throughput_etl_pipeline_spark.operators.sketches import LG_CONFIG_K
from high_throughput_etl_pipeline_spark.streaming import store as _store

SKETCH_SCHEMA = "date STRING, sketch BINARY, n_rows BIGINT"


def _current_snapshot(table_path: str) -> str | None:
    """Latest marker-consistent snapshot directory (non-destructive).

    The pre-``store.py`` layout (parquet files + ``_last_batch_id``
    directly in the table dir) was auto-migrated for one round after
    the r7 format change and is no longer supported: serving it
    silently as an empty store would abandon accumulated history, so
    an explicit layout assert raises instead."""
    marker = os.path.join(table_path, "_last_batch_id")
    if os.path.isfile(marker):
        raise RuntimeError(
            f"{table_path}: legacy pre-store.py sketch layout "
            "(_last_batch_id at the table root) — the one-round "
            "migration shim was retired; rebuild the table from the "
            "stream (delete table + checkpoint) or move the parquet "
            "files into a batch_<id> directory with an "
            "_absorbed_through marker"
        )
    dirs = _store.batch_dirs(table_path)
    return dirs[-1] if dirs else None


def merge_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    stream_id: str | None = None,
) -> bool:
    """The foreachBatch body: sketch the batch per day, union into the
    stored table, publish the merged snapshot as ``batch_<id>``.
    Returns False (no-op) for a replayed batch id — foreachBatch is
    at-least-once, and while the sketch union alone is replay-
    idempotent, the n_rows recount is not.

    ``stream_id`` (derived from the checkpoint location) fences the
    table to one checkpoint lineage via ``store.stamp_raw_stream_id``:
    Structured Streaming batch ids restart at 0 with a fresh
    checkpoint, so the bare monotonic guard alone would silently drop
    every new batch against a stale high-water mark; a marker from a
    DIFFERENT stream raises instead.  Reset procedure — delete the
    sketch table together with the checkpoint (full rebuild), or keep
    both as-is to resume the original checkpoint.
    """
    if os.path.isdir(table_path):
        _current_snapshot(table_path)  # layout assert (legacy raises)
        # deferred retention: snapshots superseded by PREVIOUS merges
        # are healed here, at the START of the next maintainer call —
        # never right after a publish, when a concurrent serving scan
        # may still reference the just-superseded directory
        _store.batch_dirs(table_path, heal=True)
    if stream_id is not None:
        _store.stamp_raw_stream_id(table_path, stream_id, "sketch")
    if _store.already_absorbed(table_path, batch_id):
        return False
    spark = batch.sparkSession
    daily = batch.groupBy(
        F.to_date(ts_col).cast("string").alias("date")
    ).agg(
        F.hll_sketch_agg(key_col, F.lit(LG_CONFIG_K)).alias("sketch"),
        F.count("*").alias("n_rows"),
    )
    cur = _current_snapshot(table_path)
    if cur is not None:
        stored = spark.read.schema(SKETCH_SCHEMA).parquet(cur)
        merged = (
            stored.unionByName(daily)
            .groupBy("date")
            .agg(
                F.expr("hll_union_agg(sketch)").alias("sketch"),
                F.sum("n_rows").alias("n_rows"),
            )
        )
    else:
        merged = daily
    out_dir = _store.batch_dir(table_path, batch_id)
    staging = out_dir + "._staging"
    shutil.rmtree(staging, ignore_errors=True)
    merged.coalesce(1).write.mode("overwrite").parquet(staging)
    # marker INSIDE the staged dir: the atomic publish rename makes the
    # data, the absorbed-through fact, and the replay high-water mark
    # visible together
    _store.write_absorbed_marker(staging, batch_id)
    _store.publish(staging, out_dir)
    # the superseded snapshot is now an absorbed original — hidden from
    # every new read by the marker, but NOT deleted here: a concurrent
    # serving scan may still reference it.  The next merge's
    # start-of-call heal retires it (deferred retention, see above).
    return True


def start_sketch_stream(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    available_now: bool = False,
):
    """Maintain per-day HLL distinct-key sketches from a streaming frame.

    Each micro-batch aggregates to (date, sketch, n_rows) — a handful of
    rows — then merges into the stored table.  Restart from the same
    checkpoint must not double-count: foreachBatch is at-least-once, so
    a replayed batch id is detected via the published snapshot id and
    skipped.
    """

    stream_id = _store.stream_id(checkpoint_dir)

    def handle(batch: DataFrame, batch_id: int) -> None:
        merge_batch(batch, batch_id, table_path, key_col, ts_col, stream_id)

    writer = (
        events.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stored_distinct_estimates(
    spark: SparkSession, table_path: str
) -> DataFrame:
    """Answer distinct-per-day and total from the STORED sketches alone:
    (date, approx_keys, n_rows) plus an ALL row unioned from the blobs.
    Non-destructive read — serves the latest snapshot even mid-crash-
    window (orphaned staging / superseded originals are interpreted,
    never repaired here)."""
    cur = _current_snapshot(table_path)
    if cur is None:
        return spark.createDataFrame(
            [], "date STRING, approx_keys BIGINT, n_rows BIGINT"
        )
    t = spark.read.schema(SKETCH_SCHEMA).parquet(cur)
    per_day = t.select(
        "date",
        F.hll_sketch_estimate("sketch").alias("approx_keys"),
        "n_rows",
    )
    total = t.agg(
        F.hll_sketch_estimate(F.expr("hll_union_agg(sketch)")).alias(
            "approx_keys"
        ),
        F.sum("n_rows").alias("n_rows"),
    ).select(F.lit("ALL").alias("date"), "approx_keys", "n_rows")
    return per_day.unionByName(total)
