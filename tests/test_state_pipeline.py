"""State machine + orchestrated pipeline tests (ST4-ST6, J3-J5).

The correctness contract from SURVEY.md §5: every file reaches a terminal
status exactly once, duplicate events are idempotent, invalid files route
to quarantine, orphan dates flush as partial batches."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from high_throughput_etl_pipeline_spark.operators.batching import assign_batches
from high_throughput_etl_pipeline_spark.pipeline import PipelineRunner
from high_throughput_etl_pipeline_spark.state.tracker import FileStateTracker


def _listing(spark, rows):
    return spark.createDataFrame(rows, "file_path STRING, file_size_mb DOUBLE")


def test_track_claim_flip_lifecycle(spark, tmp_path):
    t = FileStateTracker(spark, str(tmp_path / "state"))
    files = spark.createDataFrame(
        [
            ("2026-08-12", "a.ndjson", "/in/a.ndjson", 3.5),
            ("2026-08-12", "b.ndjson", "/in/b.ndjson", 3.5),
        ],
        "date_prefix STRING, file_name STRING, file_path STRING, file_size_mb DOUBLE",
    )
    assert t.track_files(files) == 2
    # idempotent: second insert is a no-op (duplicate S3 event case)
    assert t.track_files(files) == 0
    assert t.pending_counts().collect()[0]["pending_count"] == 2
    shard = {r["file_key"]: r["status"] for r in t.state().collect()}[
        "a.ndjson"
    ].split("#")[1]

    claims = spark.createDataFrame(
        [("2026-08-12", "a.ndjson", "m1")],
        "date_prefix STRING, file_key STRING, manifest_path STRING",
    )
    assert t.claim_files(claims) == 1
    # claiming again: row no longer pending → CAS loses, nothing claimed
    assert t.claim_files(claims) == 0
    st = {r["file_key"]: r["status"] for r in t.state().collect()}
    assert st["a.ndjson"] == f"manifested#{shard}"
    assert st["b.ndjson"].startswith("pending#")

    t.update_status_for_manifest("m1", "completed")
    st = {r["file_key"]: r["status"] for r in t.state().collect()}
    assert st["a.ndjson"].startswith("completed#")
    # shard suffix preserved across flips (P7 semantics)
    assert st["a.ndjson"] == f"completed#{shard}"
    assert st["b.ndjson"].startswith("pending#")


def test_orphan_dates(spark, tmp_path):
    t = FileStateTracker(spark, str(tmp_path / "state"))
    files = spark.createDataFrame(
        [
            ("2026-08-10", "old.ndjson", "/in/old.ndjson", 3.5),
            ("2026-08-12", "new.ndjson", "/in/new.ndjson", 3.5),
        ],
        "date_prefix STRING, file_name STRING, file_path STRING, file_size_mb DOUBLE",
    )
    t.track_files(files)
    assert t.orphan_dates(today="2026-08-12") == ["2026-08-10"]


def test_assign_batches_full_and_partial(spark):
    files = spark.createDataFrame(
        [("2026-08-12", f"f{i:02d}") for i in range(23)],
        "date_prefix STRING, file_path STRING",
    )
    full = assign_batches(files, batch_size=10, allow_partial=False)
    assert full.count() == 20  # trailing 3 dropped
    flushed = assign_batches(files, batch_size=10, allow_partial=True)
    assert flushed.count() == 23  # orphan-flush keeps the partial batch


def test_pipeline_end_to_end(spark, ndjson_dir, tmp_path):
    d, paths = ndjson_dir
    bad = str(tmp_path / "2026-08-12-bad.json")
    open(bad, "w").write('{"x":1}\n')
    runner = PipelineRunner(
        spark,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        quarantine_dir=str(tmp_path / "quar"),
        batch_size=4,
    )
    listing = _listing(spark, [(p, 3.5) for p in paths] + [(bad, 3.5)])
    res = runner.run(listing, today="2026-08-12")
    assert res.files_quarantined == 1
    assert res.files_tracked == 6
    # 4 current-date files = 1 full batch; 2 orphans flush partial
    assert res.manifests_created == 2
    assert res.manifests_succeeded == 2
    assert res.records_written == 6 * 20

    statuses = {
        r["s"]
        for r in runner.tracker.state()
        .select(F.substring_index("status", "#", 1).alias("s"))
        .distinct()
        .collect()
    }
    assert statuses == {"completed"}

    # exactly-once: re-running the same listing does nothing
    res2 = runner.run(listing, today="2026-08-12")
    assert res2.files_tracked == 0
    assert res2.manifests_created == 0

    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 6 * 20


def test_ttl_expired_rows_invisible(spark, tmp_path):
    """P14 read-side enforcement: rows past ttl_epoch vanish from state()
    (DynamoDB-TTL semantics; physical delete is lazy)."""
    t = FileStateTracker(spark, str(tmp_path / "state"), ttl_days=7)
    files = spark.createDataFrame(
        [("2026-08-12", "live.ndjson", "/in/live.ndjson", 1.0)],
        "date_prefix STRING, file_name STRING, file_path STRING, file_size_mb DOUBLE",
    )
    assert t.track_files(files) == 1
    # plant an already-expired row directly (as if written days ago)
    from datetime import datetime

    from high_throughput_etl_pipeline_spark.state.tracker import STATE_SCHEMA

    now = datetime(2026, 8, 1)
    expired = spark.createDataFrame(
        [
            (
                "2026-08-01", "old.ndjson", "/in/old.ndjson", 1.0,
                "pending#0", 0, None, now, now, None, 1,  # ttl long past
            )
        ],
        STATE_SCHEMA,
    )
    t._append(expired)
    visible = {r["file_key"] for r in t.state().collect()}
    assert visible == {"live.ndjson"}
    assert [r["date_prefix"] for r in t.pending_counts().collect()] == [
        "2026-08-12"
    ]
    # live row carries a real future ttl
    live = t.state().collect()[0]
    assert live["ttl_epoch"] is not None and live["ttl_epoch"] > 1


def _dead_letters(runner):
    """The dead letters: manifests whose state rows read ``failed``."""
    return (
        runner.manifest_store.manifests()
        .filter(F.col("status") == "failed")
        .collect()
    )


def test_dlq_fail_reprocess_cycle(spark, ndjson_dir, tmp_path, monkeypatch):
    """ST7: manifest exhausts retries → its state rows read ``failed``
    with the cause kept in the error; fixing the input and
    reprocess_failed() re-drive it → completed.  The state table is the
    only record of the dead letter: the runner has no DLQ directory."""
    import json as _json

    import high_throughput_etl_pipeline_spark.pipeline as pl

    monkeypatch.setattr(pl, "BACKOFF_SECONDS", 0.01)
    calls, real = [], pl.process_manifest

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(pl, "process_manifest", counted)
    d, paths = ndjson_dir
    missing = str(tmp_path / "input" / "2026-08-12-missing.ndjson")
    runner = PipelineRunner(
        spark,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        batch_size=5,
    )
    # 4 current-date files + 1 missing = one full batch of 5 that fails
    listing = _listing(
        spark, [(p, 3.5) for p in paths if "2026-08-12" in p] + [(missing, 3.5)]
    )
    res = runner.run(listing, today="2026-08-12")
    assert res.manifests_created == 1
    assert res.manifests_failed == 1
    entries = _dead_letters(runner)
    assert len(entries) == 1
    assert missing in entries[0]["file_paths"]
    assert len(calls) == pl.MAX_RETRIES + 1
    # the exception line closes the traceback: the stored tail names the path
    assert missing in entries[0]["error_message"]
    st = {r["file_key"]: r["status"] for r in runner.tracker.state().collect()}
    assert all(s.startswith("failed#") for s in st.values())
    mrow = runner.manifest_store.manifests().collect()
    assert len(mrow) == 1 and mrow[0]["status"] == "failed"

    # repair the input, re-drive the dead letter
    with open(missing, "w") as f:
        for j in range(20):
            f.write(_json.dumps({"id": f"fix_{j}", "v": j}) + "\n")
    res2 = runner.reprocess_failed()
    assert res2.manifests_succeeded == 1
    assert res2.records_written == 5 * 20
    assert _dead_letters(runner) == []
    st = {r["file_key"]: r["status"] for r in runner.tracker.state().collect()}
    assert all(s.startswith("completed#") for s in st.values())
    mrow = runner.manifest_store.manifests().collect()
    # the success flip clears the failure's error
    assert mrow[0]["status"] == "completed" and mrow[0]["error_message"] is None


def test_driver_lock_one_winner_no_double_processing(
    spark, ndjson_dir, tmp_path
):
    """Multi-driver claim semantics (reference LOCK# rows): two drivers
    attach to the same state table; while one is mid-run the other
    fails fast; files are processed exactly once."""
    import pytest as _pytest

    from high_throughput_etl_pipeline_spark.state.lock import LockHeldError

    _, paths = ndjson_dir
    state = str(tmp_path / "state")
    r1 = PipelineRunner(spark, state, str(tmp_path / "out"), batch_size=4)
    r2 = PipelineRunner(spark, state, str(tmp_path / "out"), batch_size=4)

    # simulate r1 mid-run: it holds the lock; r2's run must fail fast
    r1.lock.acquire()
    with _pytest.raises(LockHeldError, match="second driver"):
        r2.run(_listing(spark, [(p, 3.5) for p in paths]), today="2026-08-12")
    # r2 failed BEFORE any state write — nothing tracked, nothing claimed
    assert not r1.tracker.state().count()
    r1.lock.release()

    # the winner processes everything exactly once
    res = r1.run(_listing(spark, [(p, 3.5) for p in paths]), today="2026-08-12")
    assert res.manifests_succeeded == res.manifests_created
    st = [r["status"] for r in r1.tracker.state().collect()]
    assert st and all(s.startswith("completed#") for s in st)
    # re-running (either driver) is a no-op: idempotent insert + CAS claim
    res2 = r2.run(_listing(spark, [(p, 3.5) for p in paths]), today="2026-08-12")
    assert res2.files_tracked == 0 and res2.manifests_created == 0


def test_circuit_breaker_trips_parks_and_resumes(spark, tmp_path, monkeypatch):
    """ST7 circuit breaker: 3 consecutive manifest failures trip the
    breaker; the rest of the queue parks untouched (status ``created``,
    no failed flip); the tripped state survives a driver restart; manual
    reset + resume_pending_manifests() re-drives the parked queue and
    reprocess_failed() the failed one."""
    import json as _json

    import high_throughput_etl_pipeline_spark.pipeline as pl

    monkeypatch.setattr(pl, "BACKOFF_SECONDS", 0.01)
    ind = tmp_path / "input"
    ind.mkdir()
    # 5 one-file manifests, every input missing → all would fail
    missing = [
        str(ind / f"2026-08-12-gone{i}.ndjson") for i in range(5)
    ]
    runner = PipelineRunner(
        spark,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        batch_size=1,
    )
    res = runner.run(
        _listing(spark, [(p, 3.5) for p in missing]), today="2026-08-12"
    )
    assert res.manifests_created == 5
    assert res.manifests_failed == 3  # trip point
    assert res.manifests_skipped == 2  # parked, not failed
    assert res.breaker_tripped
    assert len(_dead_letters(runner)) == 3
    statuses = sorted(
        r["status"] for r in runner.manifest_store.manifests().collect()
    )
    assert statuses == ["created", "created", "failed", "failed", "failed"]

    # tripped state survives a fresh driver on the same state path
    runner2 = PipelineRunner(
        spark,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        batch_size=1,
    )
    assert not runner2.breaker.allow()
    # while tripped, resume is a no-op: everything skips again
    res_noop = runner2.resume_pending_manifests()
    assert res_noop.manifests_skipped == 2 and res_noop.manifests_succeeded == 0

    # repair the inputs, push the button, resume the parked queue
    for p in missing:
        with open(p, "w") as f:
            for j in range(10):
                f.write(_json.dumps({"id": f"r{j}", "v": j}) + "\n")
    runner2.breaker.reset()
    res2 = runner2.resume_pending_manifests()
    assert res2.manifests_succeeded == 2
    assert res2.records_written == 2 * 10
    assert not res2.breaker_tripped
    # the 3 pre-trip failures are re-driven from their state rows
    res3 = runner2.reprocess_failed()
    assert res3.manifests_succeeded == 3
    assert _dead_letters(runner2) == []
    final = sorted(
        r["status"] for r in runner2.manifest_store.manifests().collect()
    )
    assert final == ["completed"] * 5


def _recorded_runner(spark, tmp_path, monkeypatch, fail: bool):
    """A runner whose ``process_manifest`` only sleeps (or raises) and
    records how many calls it got and how many overlap, over 5 one-file
    manifests."""
    import threading
    import time as _time

    import high_throughput_etl_pipeline_spark.pipeline as pl

    monkeypatch.setattr(pl, "BACKOFF_SECONDS", 0.01)
    guard, seen = threading.Lock(), {"now": 0, "peak": 0, "calls": 0}

    def recorder(spark, paths, output_dir, **kwargs):
        with guard:
            seen["calls"] += 1
            seen["now"] += 1
            seen["peak"] = max(seen["peak"], seen["now"])
        try:
            _time.sleep(0.5)
            if fail:
                raise OSError("sink down")
            return 7
        finally:
            with guard:
                seen["now"] -= 1

    monkeypatch.setattr(pl, "process_manifest", recorder)
    runner = PipelineRunner(
        spark, str(tmp_path / "state"), str(tmp_path / "out"), batch_size=1
    )
    listing = _listing(
        spark, [(f"/in/2026-08-12-f{i}.ndjson", 3.5) for i in range(5)]
    )
    return runner, listing, seen


def test_dispatch_in_flight_bounded_by_breaker_budget(
    spark, tmp_path, monkeypatch
):
    """Manifests run concurrently, at most ``threshold`` at once; with one
    failure already on the breaker at most ``threshold - 1``, so a queue
    that fails throughout still stops at exactly ``threshold`` failures."""
    runner, listing, seen = _recorded_runner(
        spark, tmp_path / "ok", monkeypatch, fail=False
    )
    threshold = runner.breaker.threshold
    res = runner.run(listing, today="2026-08-12")
    assert (res.manifests_succeeded, res.records_written) == (5, 35)
    assert 1 < seen["peak"] <= threshold

    runner, listing, seen = _recorded_runner(
        spark, tmp_path / "failing", monkeypatch, fail=True
    )
    runner.breaker.record_failure()
    res = runner.run(listing, today="2026-08-12")
    assert seen["peak"] <= threshold - 1
    assert res.manifests_failed == threshold - 1
    assert res.manifests_skipped == 5 - (threshold - 1)
    assert res.breaker_tripped


def test_reprocess_with_broken_inputs_trips_the_breaker(
    spark, tmp_path, monkeypatch
):
    """Re-driving dead letters while the inputs are still broken is
    counted on the breaker like a run: over more failed manifests than
    the threshold, exactly ``threshold`` are tried and fail again, the
    breaker trips, and the rest stay ``failed``, counted as skipped."""
    import high_throughput_etl_pipeline_spark.pipeline as pl

    runner, listing, seen = _recorded_runner(
        spark, tmp_path, monkeypatch, fail=True
    )
    threshold = runner.breaker.threshold
    runner.run(listing, today="2026-08-12")
    runner.breaker.reset()
    runner.resume_pending_manifests()
    assert len(_dead_letters(runner)) == 5 > threshold

    runner.breaker.reset()
    seen["calls"] = 0
    res = runner.reprocess_failed()
    assert res.manifests_failed == threshold
    assert res.manifests_skipped == 5 - threshold
    assert res.manifests_succeeded == 0
    assert res.breaker_tripped
    assert seen["calls"] == threshold * (pl.MAX_RETRIES + 1)
    assert len(_dead_letters(runner)) == 5


def test_concurrent_manifests_append_one_date_exactly_once(
    spark, ndjson_dir, tmp_path, monkeypatch
):
    """Four one-file manifests of one date append to one ``_date``
    partition at once: every input row lands exactly once and every file
    completes, keeping its shard.  One attempt each, so a clash between
    appends fails a manifest instead of hiding in a retry."""
    import high_throughput_etl_pipeline_spark.pipeline as pl

    monkeypatch.setattr(pl, "MAX_RETRIES", 0)
    _, paths = ndjson_dir
    one_date = [p for p in paths if "2026-08-12" in p]
    assert len(one_date) == 4
    out = str(tmp_path / "out")
    runner = PipelineRunner(spark, str(tmp_path / "state"), out, batch_size=1)
    res = runner.run(
        _listing(spark, [(p, 3.5) for p in one_date]), today="2026-08-12"
    )
    assert (res.manifests_created, res.manifests_succeeded) == (4, 4)
    assert res.records_written == 4 * 20
    df = spark.read.parquet(out)
    assert df.count() == 4 * 20
    assert df.select("id").distinct().count() == 4 * 20
    st = runner.tracker.state().collect()
    assert len(st) == 4
    assert all(r["status"] == f"completed#{r['shard_id']}" for r in st)


def test_sink_serializes_appends_to_one_path(spark, tmp_path):
    """Spark stages every append to one path under the same
    ``_temporary`` dir, so the sink holds a per-path lock around the
    write: concurrent appends all succeed and every row lands."""
    import threading

    from high_throughput_etl_pipeline_spark.sources.parquet_sink import (
        write_date_partitioned_parquet,
    )

    out = str(tmp_path / "out")
    errors = []

    def appends(t):
        try:
            for k in range(3):
                df = spark.range(100).select(
                    F.format_string(f"t{t}k{k}_%d", "id").alias("id"),
                    F.lit("2026-08-12").alias("_date"),
                )
                write_date_partitioned_parquet(
                    df, out, date_col="_date", avg_row_bytes=64.0
                )
        except Exception as e:  # collected for the assert below
            errors.append(e)

    threads = [threading.Thread(target=appends, args=(t,)) for t in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    df = spark.read.parquet(out)
    assert df.count() == 3 * 3 * 100
    assert df.select("id").distinct().count() == 3 * 3 * 100


def test_state_tracker_leaves_session_overwrite_mode(spark, tmp_path):
    """The tracker sets dynamic partition overwrite on its own writers;
    building one leaves the session's mode as it was."""
    key = "spark.sql.sources.partitionOverwriteMode"
    previous = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        FileStateTracker(spark, str(tmp_path / "state"))
        assert spark.conf.get(key) == "static"
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)


def test_manifest_store_queryable(spark, ndjson_dir, tmp_path):
    """§1.1: manifests are a first-class queryable state DataFrame."""
    _, paths = ndjson_dir
    runner = PipelineRunner(
        spark, str(tmp_path / "state"), str(tmp_path / "out"), batch_size=4
    )
    res = runner.run(_listing(spark, [(p, 3.5) for p in paths]), today="2026-08-12")
    assert res.manifests_created == 2
    m = runner.manifest_store.manifests()
    rows = m.orderBy("date_prefix", "batch_id").collect()
    assert [r["status"] for r in rows] == ["completed", "completed"]
    assert sum(r["file_count"] for r in rows) == 6
    # idempotent: re-recording the same docs inserts nothing
    assert runner.manifest_store.record(m.drop("status")) == 0


def test_second_run_same_date_gets_its_own_manifest(
    spark, ndjson_dir, tmp_path, monkeypatch
):
    """Batch ids restart at 0 every run, so manifest paths carry a per-run
    stamp: a later run's failing manifest on the same date must not flip
    the files an earlier run completed, and both manifests stay
    visible."""
    import high_throughput_etl_pipeline_spark.pipeline as pl

    monkeypatch.setattr(pl, "BACKOFF_SECONDS", 0.01)
    _, paths = ndjson_dir
    a, b, c = sorted(p for p in paths if "2026-08-12" in p)[:3]
    d = str(tmp_path / "input" / "2026-08-12-missing.ndjson")
    runner = PipelineRunner(
        spark, str(tmp_path / "state"), str(tmp_path / "out"), batch_size=2
    )
    r1 = runner.run(_listing(spark, [(p, 3.5) for p in (a, b, c)]), today="2026-08-12")
    assert (r1.manifests_created, r1.manifests_succeeded) == (1, 1)
    r2 = runner.run(_listing(spark, [(p, 3.5) for p in (a, b, c, d)]), today="2026-08-12")
    assert (r2.manifests_created, r2.manifests_failed) == (1, 1)

    st = {r["file_path"]: r["status"].split("#")[0] for r in runner.tracker.state().collect()}
    assert st == {a: "completed", b: "completed", c: "failed", d: "failed"}
    ms = runner.manifest_store.manifests().collect()
    assert sorted((tuple(m["file_paths"]), m["status"]) for m in ms) == [
        ((a, b), "completed"),
        ((c, d), "failed"),
    ]
    assert all(m["manifest_path"].startswith("manifests/2026-08-12/") for m in ms)


def test_quarantine_is_idempotent(spark, tmp_path):
    """A redelivered listing quarantines each invalid file once, and adds
    no file to the quarantine table, while files_quarantined still counts
    the invalid files in the listing."""
    import os

    bad = str(tmp_path / "2026-08-12-bad.json")
    open(bad, "w").write('{"x":1}\n')
    quar = str(tmp_path / "quar")
    runner = PipelineRunner(
        spark, str(tmp_path / "state"), str(tmp_path / "out"), quarantine_dir=quar
    )
    files = []
    for _ in range(2):
        res = runner.run(_listing(spark, [(bad, 3.5)]), today="2026-08-12")
        assert res.files_seen == 1 and res.files_quarantined == 1
        files.append(sorted(os.listdir(quar)))
    assert files[1] == files[0]
    rows = spark.read.parquet(quar).collect()
    assert [(r["file_path"], r["quarantine_reason"]) for r in rows] == [
        (bad, "invalid_extension")
    ]


def test_pipeline_job_budget(spark, ndjson_dir, tmp_path):
    """Control-plane cost guard: a run with k manifests launches at most
    a + b·k Spark jobs, a redelivery at most c.  Measured on local[8]: 17
    + 7 per manifest (ingest 4, flip 3) and 8 for a redelivery, where a
    second manifest table and Spark-written reports cost 42 + 15 per
    manifest and 13.  The bounds carry ~25% headroom, so a job added to
    the control path fails here long before it gets back there.  The
    lower bound, 17 + 4 per manifest, fails if the jobs manifests run on
    worker threads lose the caller's job group (they would count 17 + 3k)."""
    a, b, c = 21, 9, 10
    _, paths = ndjson_dir
    bad = str(tmp_path / "2026-08-12-bad.json")
    open(bad, "w").write('{"x":1}\n')
    runner = PipelineRunner(
        spark,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        quarantine_dir=str(tmp_path / "quar"),
        reports_dir=str(tmp_path / "reports"),
        batch_size=2,
    )
    today = paths[0].split("/")[-1][:10]
    listing = _listing(
        spark, [(p, 3.5) for p in paths if today in p][:4] + [(bad, 3.5)]
    )
    sc = spark.sparkContext

    def jobs(group):
        sc.setJobGroup(group, group)
        try:
            res = runner.run(listing, today=today)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return res, len(sc.statusTracker().getJobIdsForGroup(group))

    res, n = jobs("job-budget-run")
    assert res.manifests_succeeded == res.manifests_created == 2
    assert 17 + 4 * res.manifests_created <= n <= a + b * res.manifests_created, n
    res, n = jobs("job-budget-redelivery")
    assert res.manifests_created == 0
    assert n <= c, n


def test_pipeline_writes_reports(spark, ndjson_dir, tmp_path):
    """§3.1 step 7: per-manifest execution reports land in reports_dir and
    are queryable through the Athena-parity analytics layer."""
    from high_throughput_etl_pipeline_spark.plans import analytics
    from high_throughput_etl_pipeline_spark.sources.reports import (
        register_report_views,
    )

    _, paths = ndjson_dir
    runner = PipelineRunner(
        spark,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        batch_size=4,
        reports_dir=str(tmp_path / "reports"),
    )
    res = runner.run(_listing(spark, [(p, 3.5) for p in paths]), today="2026-08-12")
    assert res.manifests_succeeded == 2
    register_report_views(spark, glue_reports_path=str(tmp_path / "reports"))
    perf = analytics.run(spark, "glue_performance").collect()
    assert len(perf) == 2
    assert all(r["status"] == "success" for r in perf)
    assert sum(r["records_processed"] for r in perf) == res.records_written


def test_reports_dir_must_be_local(spark, tmp_path, monkeypatch):
    """Reports are written with local file calls: a URI reports_dir is
    refused up front, not turned into a local directory named 's3a:'."""
    import os

    import pytest

    from high_throughput_etl_pipeline_spark.sources.reports import write_report

    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local path"):
        PipelineRunner(
            spark, str(tmp_path / "state"), str(tmp_path / "out"),
            reports_dir="s3a://bucket/logs/glue",
        )
    with pytest.raises(ValueError, match="local path"):
        write_report({"report_id": "r"}, "file:/logs/glue")
    assert not os.listdir(tmp_path)


def test_merge_upsert_semantics(spark, tmp_path):
    """Generic MERGE: matched rows update, new keys insert, untouched
    partitions stay byte-identical (partition-bounded work)."""
    from high_throughput_etl_pipeline_spark.operators.merge import merge_upsert

    path = str(tmp_path / "tbl")
    schema = "d STRING, k BIGINT, v STRING"
    base = spark.createDataFrame(
        [("2026-08-10", 1, "a"), ("2026-08-10", 2, "b"), ("2026-08-11", 3, "c")],
        schema,
    )
    assert merge_upsert(spark, path, base, ["d", "k"], "d", schema=schema) == 3

    updates = spark.createDataFrame(
        [("2026-08-10", 2, "B2"), ("2026-08-10", 4, "d")], schema
    )
    # only the 08-10 partition rewrites: 3 rows written (1 kept + 2 upserts)
    assert merge_upsert(spark, path, updates, ["d", "k"], "d", schema=schema) == 3

    got = {
        (r["d"], r["k"]): r["v"]
        for r in spark.read.schema(schema).parquet(path).collect()
    }
    assert got == {
        ("2026-08-10", 1): "a",   # untouched key
        ("2026-08-10", 2): "B2",  # matched-update
        ("2026-08-10", 4): "d",   # not-matched-insert
        ("2026-08-11", 3): "c",   # untouched partition
    }

    # idempotency: replaying the same updates changes nothing
    merge_upsert(spark, path, updates, ["d", "k"], "d", schema=schema)
    again = {
        (r["d"], r["k"]): r["v"]
        for r in spark.read.schema(schema).parquet(path).collect()
    }
    assert again == got


def test_driver_lock_one_winner_without_expiry(tmp_path, monkeypatch):
    """16 threads racing acquire() on one lock file produce exactly one
    winner.  The lock has no expiry: with the clock 2 h ahead a held lock
    is still refused.  release() leaves the file in place."""
    import threading
    import time

    import pytest as _pytest

    from high_throughput_etl_pipeline_spark.state.lock import (
        DriverLock,
        LockHeldError,
    )

    path = str(tmp_path / "lock.json")
    winners, losers = [], []
    start = threading.Barrier(16, timeout=60)

    def try_acquire():
        lk = DriverLock(path)
        start.wait()
        try:
            lk.acquire()
            winners.append(lk)
        except LockHeldError:
            losers.append(lk)

    threads = [threading.Thread(target=try_acquire) for _ in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert len(winners) == 1 and len(losers) == 15

    real_time = time.time
    monkeypatch.setattr(time, "time", lambda: real_time() + 7200)
    with _pytest.raises(LockHeldError, match="second driver"):
        DriverLock(path).acquire()
    monkeypatch.undo()

    winners[0].release()
    assert os.path.exists(path)
    with DriverLock(path).hold():
        pass


def test_driver_lock_freed_when_holder_dies(tmp_path):
    """A garbage lock file blocks nothing.  A lock held by a live child
    process is refused with the holder named; once the child is killed
    with SIGKILL, acquire() succeeds at once."""
    import subprocess
    import sys

    import pytest as _pytest

    from high_throughput_etl_pipeline_spark.state.lock import (
        DriverLock,
        LockHeldError,
    )

    path = str(tmp_path / "lock.json")
    with open(path, "wb") as f:
        f.write(b'{"owner": "half-writ\xff')
    with DriverLock(path).hold():
        pass

    holder = (
        "import sys, time\n"
        "from high_throughput_etl_pipeline_spark.state.lock import DriverLock\n"
        "DriverLock(sys.argv[1]).acquire()\n"
        "print('held', flush=True)\n"
        "time.sleep(600)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.Popen(
        [sys.executable, "-c", holder, path],
        cwd=repo, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert child.stdout.readline().strip() == "held"
        with _pytest.raises(LockHeldError, match=f"pid {child.pid}"):
            DriverLock(path).acquire()
    finally:
        child.kill()
        child.wait(timeout=60)
        child.stdout.close()
    lk = DriverLock(path)
    lk.acquire()
    lk.release()


def test_circuit_breaker_survives_corrupt_state_file(tmp_path):
    """A truncated/corrupt breaker doc (crash mid-write, disk-full) must
    construct a fresh breaker, not brick the runner; _save is atomic so a
    reader never sees a partial doc."""
    from high_throughput_etl_pipeline_spark.pipeline import CircuitBreaker

    path = str(tmp_path / "breaker.json")
    with open(path, "w") as f:
        f.write('{"consecutive_failures": 2, "trip')  # truncated mid-write
    cb = CircuitBreaker(path, threshold=3)
    assert cb.allow() and cb.consecutive_failures == 0

    # state round-trips through the atomic save
    cb.record_failure()
    cb.record_failure()
    cb.record_failure()
    assert cb.tripped
    cb2 = CircuitBreaker(path, threshold=3)
    assert cb2.tripped and not cb2.allow()
    cb2.reset()
    assert CircuitBreaker(path, threshold=3).allow()
