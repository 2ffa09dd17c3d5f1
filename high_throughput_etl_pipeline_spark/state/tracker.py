"""File-state tracking table (SURVEY.md §2.1 S9, §2.3 J3-J5, §2.6 ST4-ST6).

The reference tracks every input file in DynamoDB keyed
``(date_prefix, file_key)`` with lifecycle ``pending → manifested →
completed/failed`` and sharded status values ``pending#N`` for GSI
write-spreading (terraform/modules/dynamodb/main.tf:22-82,
DEVELOPER_GUIDE.md:113-163).  Here the state is a **date-partitioned
Parquet table** the engine owns:

- idempotent insert  = left-anti join of incoming vs existing (J4/ST6,
  reference's ``attribute_not_exists`` conditional put, builder.py:645-653)
- claim              = join + conditional status recompute (J5, the
  reference's per-row CAS, builder.py:661-705)
- batch status flip  = keyed join preserving the shard suffix (J3,
  lambda_batch_status_updater.py:120-204)

This table is the batch pipeline's **single commit point**.  The
reference keeps its ``MANIFEST#`` meta rows in the same DynamoDB table as
the file rows; here a manifest has no row of its own at all: the claim
that stamps ``manifest_path`` on its files *is* its creation, and the
flip of those files *is* its status change.  ``ManifestStore.manifests()``
(state/manifest.py) is a view derived from these rows, so one write per
state transition leaves nothing to drift out of step.

Writes use **dynamic partition overwrite**, set on each writer (the
session's mode is left alone), so only the touched ``date_prefix``
partitions rewrite — at 100 TB the state table is large but
each day's slice is small; a day-partition rewrite is bounded work.
Every overwrite first checkpoints its rows, already shuffled by date, so
it never reads the path it rewrites and the write itself runs no shuffle.
A flip reads its partition from the manifest path; a claim's caller
that knows the touched dates passes them (``dates``) and saves the job
that would find them.
Concurrency note: plain Parquet has no multi-writer transaction; the engine
assumes a single driver (the reference's DynamoDB CAS guarded multiple
Lambdas).  On a lakehouse deployment, swap the save calls for Delta MERGE —
the plans are already merge-shaped.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from high_throughput_etl_pipeline_spark.functions.scalar import (
    md5_shard,
    split_status,
    status_with_shard,
    ttl_epoch,
)

STATE_SCHEMA = (
    "date_prefix STRING, file_key STRING, file_path STRING, "
    "file_size_mb DOUBLE, status STRING, shard_id INT, manifest_path STRING, "
    "created_at TIMESTAMP, updated_at TIMESTAMP, error_message STRING, "
    "ttl_epoch BIGINT"
)

_COLUMNS = [f.split(" ")[0] for f in STATE_SCHEMA.split(", ")]
_KEY = ["date_prefix", "file_key"]


def checkpoint_counting(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, dict]:
    """``df.localCheckpoint(eager=True)`` plus aggregate ``metrics``
    (name → aggregate Column) over its rows, evaluated by the same job
    instead of a count job of their own.  The metrics are observed in the
    checkpoint's last stage, a result stage, whose per-partition updates
    Spark applies once even when tasks retry."""
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    df = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    df = df.localCheckpoint(eager=True)
    return df, obs.get


def has_data(path: str) -> bool:
    """Whether a table directory holds any data entry (not only markers
    such as ``_SUCCESS``).  A posix check; object stores would list."""
    return os.path.isdir(path) and any(
        not n.startswith((".", "_")) for n in os.listdir(path)
    )


def _date_from_manifest_path(manifest_path: str) -> str | None:
    """Extract the YYYY-MM-DD segment from a `manifests/{date}/...` path
    (P5 pattern) so status flips prune to one date partition."""
    import re

    m = re.search(r"(\d{4}-\d{2}-\d{2})", manifest_path)
    return m.group(1) if m else None


class FileStateTracker:
    """Single-driver transactional-enough state table over Parquet."""

    def __init__(self, spark: SparkSession, path: str, ttl_days: int | None = None):
        self.spark = spark
        self.path = path
        self.ttl_days = ttl_days

    # -- read side -----------------------------------------------------

    def state(self) -> DataFrame:
        """Live state rows.  TTL enforcement is the read-side anti-filter
        (P14): rows past ``ttl_epoch`` are invisible, exactly like DynamoDB
        TTL expiry (builder.py:626,677) — physical deletion happens lazily
        on the next partition rewrite."""
        if not has_data(self.path):
            return self.spark.createDataFrame([], STATE_SCHEMA)
        df = self.spark.read.schema(STATE_SCHEMA).parquet(self.path)
        return df.filter(
            F.col("ttl_epoch").isNull()
            | (F.col("ttl_epoch") > F.unix_timestamp())
        )

    # -- write primitives ----------------------------------------------

    @staticmethod
    def _checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
        """Rows shuffled to their date partition and cut from their
        lineage — what an overwrite of the path they were read from needs —
        with ``metrics`` over them (see :func:`checkpoint_counting`)."""
        return checkpoint_counting(df.repartition("date_prefix"), **metrics)

    def _overwrite_partitions(self, df: DataFrame, **metrics: Column) -> dict:
        """Rewrite the date partitions ``df`` covers with its state
        columns; returns ``metrics`` over its rows (helper columns they
        read are dropped only after the checkpoint)."""
        # Materialize before overwriting the path we read from.
        df, counted = self._checkpoint(df, **metrics)
        df.select(*_COLUMNS).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("date_prefix").parquet(self.path)
        return counted

    def _append(self, df: DataFrame) -> None:
        df.write.mode("append").partitionBy("date_prefix").parquet(self.path)

    # -- operations ----------------------------------------------------

    def track_files(self, files: DataFrame) -> int:
        """Idempotent insert of validated files as ``pending#shard``.

        ``files`` needs: date_prefix, file_name, file_path, file_size_mb.
        Returns number of newly tracked rows (duplicates dropped — the
        re-delivered-S3-event case).
        """
        incoming = (
            files.select(
                F.col("date_prefix"),
                F.col("file_name").alias("file_key"),
                "file_path",
                F.col("file_size_mb").cast("double"),
            )
            .dropDuplicates(_KEY)
            .withColumn("shard_id", md5_shard(F.col("file_key")).cast("int"))
            .withColumn(
                "status", status_with_shard("pending", F.col("shard_id"))
            )
            .withColumn("manifest_path", F.lit(None).cast("string"))
            .withColumn("created_at", F.current_timestamp())
            .withColumn("updated_at", F.current_timestamp())
            .withColumn("error_message", F.lit(None).cast("string"))
            .withColumn(
                "ttl_epoch",
                ttl_epoch(self.ttl_days)
                if self.ttl_days is not None
                else F.lit(None).cast("bigint"),
            )
        )
        existing = self.state().select(*_KEY)
        fresh = incoming.join(existing, on=_KEY, how="left_anti").select(
            *_COLUMNS
        )
        fresh, counted = self._checkpoint(fresh, rows=F.count(F.lit(1)))
        n = counted["rows"]
        if n:
            self._append(fresh)
        return n

    def claim_files(
        self, claims: DataFrame, dates: list[str] | None = None
    ) -> int:
        """CAS claim: pending → manifested, stamping manifest_path.

        ``claims`` needs: date_prefix, file_key, manifest_path.  Rows whose
        current status is not pending are silently skipped (the losing
        writer in the reference's conditional update).  Returns #claimed.

        ``dates`` are the claims' date prefixes when the caller knows them;
        otherwise one collect job finds them.  They cannot be derived
        inside the plan at no cost: the rewrite must read only the touched
        partitions, and Spark prunes a partition scan by a join only with
        dynamic partition pruning, which needs a selective filter on the
        claims side (a checkpointed claims frame has none) and a broadcast
        job of its own.  A literal filter on ``dates`` prunes statically.
        """
        state = self.state()
        c = claims.select(
            *_KEY, F.col("manifest_path").alias("_new_manifest")
        ).dropDuplicates(_KEY)
        joined = state.join(F.broadcast(c), on=_KEY, how="left")
        base, shard = split_status(F.col("status"))
        # materialize the predicate BEFORE rewriting `status`, which the
        # predicate reads — withColumn chains resolve against the updated
        # plan, not the original row
        joined = joined.withColumn(
            "_claim", F.col("_new_manifest").isNotNull() & (base == "pending")
        )
        claimable = F.col("_claim")
        updated = (
            joined.withColumn(
                "status",
                F.when(
                    claimable, status_with_shard("manifested", F.col("shard_id"))
                ).otherwise(F.col("status")),
            )
            .withColumn(
                "manifest_path",
                F.when(claimable, F.col("_new_manifest")).otherwise(
                    F.col("manifest_path")
                ),
            )
            .withColumn(
                "updated_at",
                F.when(claimable, F.current_timestamp()).otherwise(
                    F.col("updated_at")
                ),
            )
        )
        if dates is None:
            dates = [r[0] for r in c.select("date_prefix").distinct().collect()]
        # count the rows THIS call claimed (not every manifested row in
        # the touched partitions) in the same job that materializes them
        return self._overwrite_partitions(
            updated.filter(F.col("date_prefix").isin(dates)),
            claimed=F.count(F.when(F.col("_claim"), 1)),
        )["claimed"]

    def update_status_for_manifest(
        self,
        manifest_path: str,
        new_status: str,
        error_message: str | None = None,
    ) -> int:
        """Batch flip all files of a manifest, preserving shard suffix.
        Each flipped row's error becomes ``error_message``, so a flip
        without one (a re-driven manifest that succeeds) clears it.

        Parity: lambda_batch_status_updater.py:53-204 (manifested#N →
        completed#N / failed#N after the Spark job finishes).
        Returns #dates rewritten.
        """
        state = self.state()
        # prune to the manifest's date partition when the path encodes one
        # (it always does for engine-built manifests) — the flip then scans
        # and rewrites one partition, with no job to find the dates
        date_guess = _date_from_manifest_path(manifest_path)
        if date_guess is not None:
            state = state.filter(F.col("date_prefix") == date_guess)
        hit = F.col("manifest_path") == manifest_path
        updated = (
            state.withColumn(
                "status",
                F.when(
                    hit, status_with_shard(new_status, F.col("shard_id"))
                ).otherwise(F.col("status")),
            )
            .withColumn(
                "updated_at",
                F.when(hit, F.current_timestamp()).otherwise(F.col("updated_at")),
            )
            .withColumn(
                "error_message",
                F.when(hit, F.lit(error_message).cast("string")).otherwise(
                    F.col("error_message")
                ),
            )
        )
        dates = (
            [date_guess]
            if date_guess is not None
            else [
                r[0]
                for r in state.filter(hit).select("date_prefix").distinct().collect()
            ]
        )
        if not dates:
            return 0
        self._overwrite_partitions(updated.filter(F.col("date_prefix").isin(dates)))
        return len(dates)

    # -- queries (A4/A5/U2 analogs) --------------------------------------

    def pending_counts(self) -> DataFrame:
        """Pending files per date (A4, builder.py:923-956). `startswith`
        covers all shard suffixes at once (U2, builder.py:971-979)."""
        return (
            self.state()
            .filter(F.col("status").startswith("pending"))
            .groupBy("date_prefix")
            .agg(F.count("*").alias("pending_count"))
        )

    def orphan_dates(self, today: str) -> list[str]:
        """Past dates that still have pending files (A5, builder.py:867-920)."""
        rows = (
            self.state()
            .filter(
                F.col("status").startswith("pending")
                & (F.col("date_prefix") < today)
            )
            .select("date_prefix")
            .distinct()
            .orderBy("date_prefix")
            .collect()
        )
        return [r[0] for r in rows]
