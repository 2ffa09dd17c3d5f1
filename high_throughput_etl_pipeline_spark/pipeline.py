"""Orchestrated batch pipeline runner (SURVEY.md §3.1, §2.6 ST5/ST7).

The reference's control plane is S3→SQS→Lambda→DynamoDB→EventBridge→Step
Functions→Glue (DEVELOPER_GUIDE.md:83-122) with the state machine
UpdateStatusProcessing → StartGlueJob → UpdateStatusCompleted/Failed
(terraform/modules/step_functions/main.tf:49-228).  Collapsed here into a
single driver loop over DataFrame operations:

    discover → validate/quarantine → track (idempotent) → batch →
    claim (CAS) → transform+write per manifest (with retry) →
    status flip → execution report

Commit point: the file-state table (state/tracker.py) is the only thing
a run writes per state transition.  The claim that stamps a manifest's
path on its files is the manifest's creation, and the flip of those files
is its status change; ``manifest_store`` is a view derived from those
rows, not a second table (the reference's ``MANIFEST#`` rows likewise live
in the file-state table).  Manifest paths carry a per-run stamp, so two
runs on one date never share one.  Invalid files are quarantined once per
``file_path``, and run reports are single JSON files written driver-side.

Concurrency: a run's manifests are dispatched together, the way the
reference runs one Glue job per manifest with many jobs at once.  Worker
threads only read input and write output (``process_manifest`` with its
retry and backoff); the driver's main thread commits each manifest as it
finishes: its flip, the breaker, the run report and the ``RunResult``
counts.  The state table, the breaker and the reports therefore keep a
single writer and need no lock.  The in-flight limit is the breaker's
remaining budget, ``threshold - consecutive_failures``, so a queue that
fails throughout still fails exactly ``threshold`` manifests before the
breaker trips, and a ``threshold=1`` runner is serial.  Appends to one
output path are serialized in the sink (sources/parquet_sink.py).

Failure path (ST7): a manifest that exhausts MAX_RETRIES flips to
``failed``, with the tail of its traceback on its files' rows.  Those
rows are the dead letters (the reference's 3-receive SQS DLQ,
terraform/modules/sqs/main.tf:27-66): ``reprocess_failed()`` re-drives
the ``failed`` manifests (reprocess-failed.sh) and
``resume_pending_manifests()`` the parked ``created`` ones, both through
the dispatcher a run uses, so a redrive is concurrent, bounded by the
breaker and committed like a run.

Each stage is the operator documented in its own module; this file only
sequences them, mirroring the Step Functions definition.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from collections import deque
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from high_throughput_etl_pipeline_spark.ingest import process_manifest
from high_throughput_etl_pipeline_spark.operators.batching import (
    MAX_FILES_PER_MANIFEST,
    assign_batches,
)
from high_throughput_etl_pipeline_spark.operators.validation import (
    quarantine,
    valid_files,
    validate_files,
)
from high_throughput_etl_pipeline_spark.sources.reports import require_local_path
from high_throughput_etl_pipeline_spark.state.lock import DriverLock
from high_throughput_etl_pipeline_spark.state.manifest import (
    ManifestStore,
    build_manifest_docs,
    manifest_path_col,
    new_run_stamp,
)
from high_throughput_etl_pipeline_spark.state.tracker import (
    FileStateTracker,
    checkpoint_counting,
    has_data,
)

MAX_RETRIES = 2  # SFN: Lambda 2 retries, backoff 2.0 (step_functions/main.tf)
BACKOFF_SECONDS = 1.0
BREAKER_THRESHOLD = 3  # consecutive manifest failures before tripping


@dataclass
class RunResult:
    files_seen: int = 0
    files_quarantined: int = 0
    files_tracked: int = 0
    manifests_created: int = 0
    manifests_succeeded: int = 0
    manifests_failed: int = 0
    manifests_skipped: int = 0
    records_written: int = 0
    breaker_tripped: bool = False
    errors: list[str] = field(default_factory=list)


class CircuitBreaker:
    """Trip-after-N-consecutive-failures guard for the manifest processor
    (ST7 residual — the reference's EventBridge failure-detection +
    fallback path, lambda_manifest_builder.py:124-185).

    A persistently failing sink (bad output volume, broken schema, dead
    downstream) makes every retry loop burn a full backoff cycle per
    manifest; the breaker stops feeding it after ``threshold``
    CONSECUTIVE manifest failures, counted in the order manifests
    finish (they run concurrently, see ``_drive_manifests``).  Tripped
    state parks the remaining queue untouched (manifests stay
    ``created``, files stay claimed) so nothing is double-processed or
    falsely failed, and persists as a JSON doc beside the state table
    so a restarted driver stays tripped.
    ``reset()`` is the deliberate human step that resumes dispatch —
    pair it with ``PipelineRunner.resume_pending_manifests()`` (parked
    manifests) or ``reprocess_failed()`` (failed ones).
    """

    def __init__(self, path: str, threshold: int = BREAKER_THRESHOLD):
        self.path = path
        self.threshold = threshold
        self.consecutive_failures = 0
        self.tripped = False
        if os.path.isfile(path):
            # a truncated/corrupt state doc (crash mid-write before _save
            # became atomic, disk-full) must degrade to fresh state, not
            # brick the runner at construction
            try:
                with open(path) as f:
                    d = json.load(f)
                self.consecutive_failures = int(d.get("consecutive_failures", 0))
                self.tripped = bool(d.get("tripped", False))
            except (json.JSONDecodeError, ValueError, TypeError, OSError):
                pass

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = f"{self.path}.tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "consecutive_failures": self.consecutive_failures,
                    "tripped": self.tripped,
                    "threshold": self.threshold,
                },
                f,
            )
        os.replace(tmp, self.path)

    def allow(self) -> bool:
        return not self.tripped

    def record_success(self) -> None:
        self.consecutive_failures = 0
        self._save()

    def record_failure(self) -> None:
        self.consecutive_failures += 1
        if self.consecutive_failures >= self.threshold:
            self.tripped = True
        self._save()

    def reset(self) -> None:
        """Manual close (the operator pushed the button)."""
        self.consecutive_failures = 0
        self.tripped = False
        self._save()


class PipelineRunner:
    """The batch pipeline over one state table.  ``reports_dir`` is a
    local path: run reports are written with local file calls, and a URI
    such as ``s3a://…`` raises ``ValueError`` here, before any run."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        output_dir: str,
        quarantine_dir: str | None = None,
        batch_size: int = MAX_FILES_PER_MANIFEST,
        reports_dir: str | None = None,
        ttl_days: int | None = None,
        breaker_threshold: int = BREAKER_THRESHOLD,
    ):
        self.spark = spark
        self.tracker = FileStateTracker(spark, state_path, ttl_days=ttl_days)
        self.manifest_store = ManifestStore(self.tracker)
        self.output_dir = output_dir
        self.quarantine_dir = quarantine_dir
        self.batch_size = batch_size
        if reports_dir:
            require_local_path(reports_dir)
        self.reports_dir = reports_dir
        self.breaker = CircuitBreaker(
            state_path + "_breaker.json", threshold=breaker_threshold
        )
        # reference LOCK# semantics: one live driver per state table —
        # a second attach fails fast instead of interleaving Parquet
        # writes; a kernel file lock, freed when its holder dies
        # (state/lock.py)
        self.lock = DriverLock(state_path + "_lock.json")

    def run(
        self,
        file_listing: DataFrame,
        today: str | None = None,
        flush_orphans: bool = True,
        schema=None,
    ) -> RunResult:
        """One full pipeline pass over a file listing
        (columns: file_path, file_size_mb).  Holds the driver lock for
        the duration: a ``run()`` on the same state path from another
        runner or process raises :class:`~...state.lock.LockHeldError`
        before any state write (reference LOCK# rows — no two builders
        interleave state writes).  The lock has no expiry; it is freed
        when the run returns or its process dies."""
        with self.lock.hold():
            return self._run_locked(file_listing, today, flush_orphans, schema)

    def _run_locked(
        self,
        file_listing: DataFrame,
        today: str | None,
        flush_orphans: bool,
        schema,
    ) -> RunResult:
        res = RunResult()
        # the listing feeds the counts, the quarantine and the tracker:
        # validate it once, counting seen and invalid files on the way
        validated, counts = checkpoint_counting(
            validate_files(file_listing),
            seen=F.count(F.lit(1)),
            invalid=F.count(F.when(~F.col("is_valid"), 1)),
        )
        res.files_seen, res.files_quarantined = counts["seen"], counts["invalid"]
        if self.quarantine_dir and res.files_quarantined:
            self._quarantine(quarantine(validated))

        res.files_tracked = self.tracker.track_files(valid_files(validated))

        # batching: full batches for today's dates; orphan flush (ST2)
        # lets stale dates go out partial at threshold 1.
        pending = self.tracker.state().filter(
            F.col("status").startswith("pending")
        )
        if today is None:
            today = self.spark.sql(
                "SELECT date_format(current_date(), 'yyyy-MM-dd')"
            ).collect()[0][0]
        stale = F.col("date_prefix") < today
        batched = assign_batches(
            pending if flush_orphans else pending.filter(~stale),
            batch_size=self.batch_size,
            allow_partial=stale,
        )
        # materialize the batching once: the manifest docs and the claims
        # both read it, and its windows must not run twice
        batched = batched.localCheckpoint(eager=True)
        stamp = new_run_stamp()
        manifests = sorted(
            build_manifest_docs(batched, run_stamp=stamp).collect(),
            key=lambda m: (m["date_prefix"], m["batch_id"]),
        )
        res.manifests_created = len(manifests)
        if not manifests:
            return res

        # the claim records the manifests: no meta-record write of its own
        claims = batched.select(
            "date_prefix", "file_key", manifest_path_col(stamp).alias("manifest_path")
        )
        self.tracker.claim_files(
            claims, dates=sorted({m["date_prefix"] for m in manifests})
        )

        self._drive_manifests(manifests, res, schema)
        res.breaker_tripped = not self.breaker.allow()
        return res

    def _quarantine(self, bad: DataFrame) -> None:
        """Append the invalid files not quarantined yet.  Keyed on
        ``file_path`` like ``track_files``' idempotent insert, so a
        redelivered listing adds no duplicate rows (and, written only when
        there is a row, no empty file either)."""
        if has_data(self.quarantine_dir):
            seen = self.spark.read.schema("file_path STRING").parquet(
                self.quarantine_dir
            )
            bad = bad.join(seen, on="file_path", how="left_anti")
        fresh, counted = checkpoint_counting(bad, rows=F.count(F.lit(1)))
        if counted["rows"]:
            fresh.write.mode("append").parquet(self.quarantine_dir)

    def _drive_manifests(self, manifests, res: RunResult, schema) -> None:
        """Process ``manifests`` concurrently and commit each as it
        finishes.  Workers run ``_process_with_retry`` (input and output
        only); this thread does every state write in ``_commit_manifest``.
        At most ``threshold - consecutive_failures`` manifests are in
        flight, so the breaker trips at exactly ``threshold`` failures
        even if every one in flight fails.  While the breaker is tripped
        the rest of the queue is left as it was and counted as skipped: a
        run's manifests stay PARKED (store status ``created``, files
        claimed), a redrive's stay ``failed``, so a reset + the matching
        redrive picks them up again."""
        queue = deque(manifests)
        running: dict = {}
        with ThreadPoolExecutor(max_workers=max(self.breaker.threshold, 1)) as pool:
            while queue or running:
                # the breaker's remaining budget: every manifest in flight
                # may fail.  At least 1, for a breaker saved under a
                # higher threshold than this runner's
                budget = max(
                    self.breaker.threshold - self.breaker.consecutive_failures, 1
                )
                while queue and self.breaker.allow() and len(running) < budget:
                    m = queue.popleft()
                    # the worker's jobs carry the caller's job group and tags
                    work = inheritable_thread_target(self.spark)(
                        self._process_with_retry
                    )
                    fut = pool.submit(
                        work, list(m["file_paths"]), m["date_prefix"], schema
                    )
                    running[fut] = (m, time.time())
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    m, started = running.pop(fut)
                    self._commit_manifest(m, *fut.result(), started, res)
        res.manifests_skipped += len(queue)

    def _commit_manifest(
        self, m, ok, err, started: float, res: RunResult
    ) -> None:
        """A processed manifest's flip, breaker update, run report and
        counts."""
        if ok is not None:
            res.records_written += ok
            res.manifests_succeeded += 1
            self._flip(m, "completed")
            self.breaker.record_success()
        else:
            res.manifests_failed += 1
            res.errors.append(err or "unknown")
            # keep the tail: the exception line closes the traceback
            self._flip(m, "failed", (err or "")[-1000:])
            self.breaker.record_failure()
        if self.reports_dir:
            self._write_run_report(m, ok, err, started)

    def resume_pending_manifests(self, schema=None) -> RunResult:
        """Drive manifests the tripped breaker left parked (store status
        still ``created``).  Call after ``breaker.reset()`` — with the
        breaker still open this is a no-op (everything skips again)."""
        return self._redrive("created", schema)

    def reprocess_failed(self, schema=None) -> RunResult:
        """Re-drive the dead letters, the manifests whose store status is
        ``failed`` (reprocess-failed.sh): success flips them to
        ``completed``, failure flips them to ``failed`` again with the
        fresh error.  Counted on the breaker like a run, so a sink that
        is still broken trips it after ``threshold`` manifests."""
        return self._redrive("failed", schema)

    def _redrive(self, status: str, schema) -> RunResult:
        """Drive every manifest the state table shows in ``status``."""
        with self.lock.hold():
            res = RunResult()
            rows = sorted(
                self.manifest_store.manifests()
                .filter(F.col("status") == status)
                .collect(),
                key=lambda m: (m["date_prefix"], m["batch_id"]),
            )
            self._drive_manifests(rows, res, schema)
            res.breaker_tripped = not self.breaker.allow()
            return res

    def _flip(self, m, status: str, error: str | None = None) -> None:
        """The manifest's one commit: flip its files in the state table."""
        self.tracker.update_status_for_manifest(
            m["manifest_path"], status, error_message=error
        )

    def _write_run_report(self, m, ok, err, started: float) -> None:
        """§3.1 step 7 — per-manifest execution report (glue_batch_job.py
        :218-299), queryable via register_report_views + plans/analytics."""
        from high_throughput_etl_pipeline_spark.sources.reports import (
            build_run_report,
            write_report,
        )

        ended = time.time()
        iso = lambda t: datetime.fromtimestamp(t, tz=timezone.utc).isoformat()
        report = build_run_report(
            manifest_path=m["manifest_path"],
            records_processed=ok or 0,
            parquet_files_created=0,
            errors=[err] if err else [],
            started_at=iso(started),
            ended_at=iso(ended),
            duration_seconds=ended - started,
        )
        write_report(report, self.reports_dir)

    def _process_with_retry(
        self, paths: list[str], date_prefix: str, schema
    ) -> tuple[int | None, str | None]:
        delay = BACKOFF_SECONDS
        last_err = None
        for attempt in range(MAX_RETRIES + 1):
            try:
                n = process_manifest(
                    self.spark, paths, self.output_dir,
                    date_prefix=date_prefix, schema=schema,
                )
                return n, None
            except Exception:
                last_err = traceback.format_exc()
                if attempt < MAX_RETRIES:
                    time.sleep(delay)
                    delay *= 2.0
        return None, last_err
