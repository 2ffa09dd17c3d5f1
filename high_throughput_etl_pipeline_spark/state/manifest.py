"""Manifest construction (SURVEY.md §3.1 step 4) and the manifest view.

The reference writes manifest JSON docs
``{"fileLocations": [{"URIPrefixes": [...]}]}`` at
``manifests/{date}/batch-{idx:04d}-{stamp}.json``
(lambda_manifest_builder.py:1073-1115).  Here a manifest is just the
grouped output of :func:`assign_batches` — the engine passes the grouped
DataFrame straight to the processor (no JSON round-trip needed
in-process).  Batch ids restart at 0 on every run, so the per-run stamp
is what keeps two runs on one date from sharing a manifest path.

Manifests have no table of their own: the file-state table
(state/tracker.py) is the single commit point, and
:class:`ManifestStore` derives the manifest meta-records from the files
a manifest claimed.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from high_throughput_etl_pipeline_spark.functions.scalar import split_status
from high_throughput_etl_pipeline_spark.state.tracker import FileStateTracker

MANIFEST_PREFIX = "manifests"


def new_run_stamp() -> str:
    """A manifest-name stamp unique to one run: the UTC second plus a
    short uuid (the reference's ``batch-{idx:04d}-{stamp}.json``)."""
    now = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S")
    return f"{now}-{uuid.uuid4().hex[:6]}"


def manifest_path_col(run_stamp: str) -> Column:
    """``manifests/{date_prefix}/batch-{batch_id:04d}-{run_stamp}.json``.
    The date segment is what prunes a status flip to one partition."""
    return F.format_string(
        f"{MANIFEST_PREFIX}/%s/batch-%04d-{run_stamp}.json",
        F.col("date_prefix"),
        F.col("batch_id"),
    )


def build_manifest_docs(batched_files: DataFrame, run_stamp: str) -> DataFrame:
    """Batches → one row per manifest: (date_prefix, batch_id,
    manifest_path, file_paths array, file_count).

    The grouping is a map-side-combinable collect_list per (date, batch) —
    batch cardinality is file_count/batch_size, tiny relative to data.
    ``run_stamp`` comes from :func:`new_run_stamp`, once per run; the
    files' claims name their manifest with the same stamp
    (:func:`manifest_path_col`).
    """
    return (
        batched_files.groupBy("date_prefix", "batch_id")
        .agg(
            F.sort_array(F.collect_list("file_path")).alias("file_paths"),
            F.count("*").alias("file_count"),
        )
        .withColumn("manifest_path", manifest_path_col(run_stamp))
    )


MANIFEST_SCHEMA = (
    "date_prefix STRING, batch_id BIGINT, manifest_path STRING, "
    "file_paths ARRAY<STRING>, file_count BIGINT, status STRING, "
    "created_at TIMESTAMP, updated_at TIMESTAMP, error_message STRING"
)


class ManifestStore:
    """Queryable manifest meta-records (SURVEY.md §1.1; the reference
    keeps ``MANIFEST#`` meta rows beside the file rows,
    DEVELOPER_GUIDE.md:154-163, lambda_manifest_builder.py:1218-1229).

    A view over the file-state table, not a second table: every write of
    a manifest's state is the tracker's write of its files' state, so the
    two can never disagree and a crash between two writes cannot leave a
    finished manifest looking parked."""

    def __init__(self, tracker: FileStateTracker):
        self.tracker = tracker

    def manifests(self) -> DataFrame:
        """One row per batch manifest, in ``MANIFEST_SCHEMA``'s columns.

        Rows are the state rows grouped by ``manifest_path``, limited to
        ``manifests/…`` paths (stream micro-batches claim under
        ``stream-<id>-batch-N`` and are not manifests).  ``batch_id`` is
        parsed from the path.  ``status`` is the files' base status with
        ``manifested`` shown as ``created``; a manifest's files flip
        together, and should they ever disagree ``max`` ranks
        ``manifested`` above ``failed`` above ``completed``, so a manifest
        reads done only when all its files are.  ``created_at`` is the
        earliest ``created_at`` of its files (when the first of them was
        tracked, not when the claim happened); ``updated_at`` the latest.
        """
        base, _ = split_status(F.col("status"))
        status = F.max(base)
        return (
            self.tracker.state()
            .filter(F.col("manifest_path").like(f"{MANIFEST_PREFIX}/%"))
            .groupBy("date_prefix", "manifest_path")
            .agg(
                F.sort_array(F.collect_list("file_path")).alias("file_paths"),
                F.count("*").alias("file_count"),
                F.when(status == "manifested", F.lit("created"))
                .otherwise(status)
                .alias("status"),
                F.min("created_at").alias("created_at"),
                F.max("updated_at").alias("updated_at"),
                F.max("error_message").alias("error_message"),
            )
            .withColumn(
                "batch_id",
                F.regexp_extract("manifest_path", r"/batch-(\d+)-", 1).cast(
                    "bigint"
                ),
            )
            .select(*[f.split(" ")[0] for f in MANIFEST_SCHEMA.split(", ")])
        )

    def record(self, docs: DataFrame) -> int:
        """How many of ``docs`` (from build_manifest_docs) have no claimed
        file in the state table yet.  Writes nothing: claiming the files
        is what records a manifest."""
        return docs.join(
            self.manifests().select("manifest_path"),
            on="manifest_path",
            how="left_anti",
        ).count()

    def update_status(
        self, manifest_path: str, status: str, error_message: str | None = None
    ) -> int:
        """A manifest's status is its files' status: flip those."""
        return self.tracker.update_status_for_manifest(
            manifest_path, status, error_message=error_message
        )
