"""Structured Streaming ingest tests (ST1-ST6): availableNow drain,
all-string output, event-time dating, exactly-once restart."""

from __future__ import annotations

import json

from high_throughput_etl_pipeline_spark.streaming import start_ingest_stream

SCHEMA = "id BIGINT, kind STRING"


def _write_files(d, n_files=6, rows=30):
    for i in range(n_files):
        date = "2026-08-11" if i % 2 else "2026-08-12"
        with open(d / f"{date}-s{i:02d}.ndjson", "w") as f:
            for j in range(rows):
                f.write(json.dumps({"id": i * 1000 + j, "kind": "k"}) + "\n")


def test_stream_drain_and_exactly_once(spark, tmp_path):
    ind = tmp_path / "in"
    ind.mkdir()
    _write_files(ind)
    out, ckpt, state = (
        str(tmp_path / "out"), str(tmp_path / "ckpt"), str(tmp_path / "state")
    )
    q = start_ingest_stream(
        spark, str(ind), out, ckpt, schema=SCHEMA, state_path=state,
        max_files_per_trigger=4, available_now=True,
    )
    q.awaitTermination(120)
    df = spark.read.parquet(out)
    assert df.count() == 6 * 30
    assert {str(r[0]) for r in df.select("_date").distinct().collect()} == {
        "2026-08-11", "2026-08-12",
    }
    # all data columns string (partition cols _date/_batch excluded)
    assert all(
        f.dataType.simpleString() == "string"
        for f in df.schema.fields
        if f.name not in ("_date", "_batch")
    )
    # restart on same checkpoint: no duplicates
    q2 = start_ingest_stream(
        spark, str(ind), out, ckpt, schema=SCHEMA, state_path=state,
        max_files_per_trigger=4, available_now=True,
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == 6 * 30

    # late file arrives → only the new file is processed
    with open(ind / "2026-08-10-late.ndjson", "w") as f:
        for j in range(10):
            f.write(json.dumps({"id": 9000 + j, "kind": "late"}) + "\n")
    q3 = start_ingest_stream(
        spark, str(ind), out, ckpt, schema=SCHEMA, state_path=state,
        max_files_per_trigger=4, available_now=True,
    )
    q3.awaitTermination(60)
    df = spark.read.parquet(out)
    assert df.count() == 6 * 30 + 10
    assert {str(r[0]) for r in df.select("_date").distinct().collect()} == {
        "2026-08-10", "2026-08-11", "2026-08-12",
    }


def test_stream_keeps_every_batch_under_static_session_mode(spark, tmp_path):
    """Each micro-batch overwrites only its own ``_batch=`` partition even
    when the session's partitionOverwriteMode is ``static``: the batch
    writes through the stream's cloned session, so the dynamic mode must
    ride on the writer, not on a session conf."""
    key = "spark.sql.sources.partitionOverwriteMode"
    ind = tmp_path / "in"
    ind.mkdir()
    for i in range(3):
        with open(ind / f"2026-08-12-b{i}.ndjson", "w") as f:
            for j in range(10):
                f.write(json.dumps({"id": i * 100 + j, "kind": "k"}) + "\n")
    out = str(tmp_path / "out")
    previous = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        q = start_ingest_stream(
            spark, str(ind), out, str(tmp_path / "ckpt"), schema=SCHEMA,
            max_files_per_trigger=1, available_now=True,
        )
        q.awaitTermination(120)
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)
    df = spark.read.parquet(out)
    assert df.select("_batch").distinct().count() == 3
    assert df.count() == 30


def test_stream_replay_after_checkpoint_loss_no_duplicates(spark, tmp_path):
    """ST4: foreachBatch is at-least-once — simulate replay-after-sink-
    write by deleting the CHECKPOINT (so every batch re-fires) and
    re-running.  The per-batch-idempotent sink (batch-scoped dynamic
    partition overwrite + tracker completed-batch skip) must not
    duplicate a single row."""
    import shutil

    ind = tmp_path / "in"
    ind.mkdir()
    _write_files(ind)
    out, ckpt, state = (
        str(tmp_path / "out"), str(tmp_path / "ckpt"), str(tmp_path / "state")
    )
    for attempt in range(2):
        q = start_ingest_stream(
            spark, str(ind), out, ckpt, schema=SCHEMA, state_path=state,
            max_files_per_trigger=4, available_now=True,
        )
        q.awaitTermination(120)
        if attempt == 0:
            shutil.rmtree(ckpt)  # lose every commit → full replay
    df = spark.read.parquet(out)
    assert df.count() == 6 * 30
    assert df.select("id").distinct().count() == 6 * 30


def test_streams_sharing_a_state_table_keep_their_batches(spark, tmp_path):
    """Two streams on one state table, each with its own input, output and
    checkpoint, both number their micro-batches from 0.  Claims are named
    per checkpoint, so the second stream's batch 0 is not taken for a
    replay of the first's and skipped."""
    from high_throughput_etl_pipeline_spark.state.tracker import (
        FileStateTracker,
    )

    state = str(tmp_path / "state")
    for name in ("a", "b"):
        ind = tmp_path / f"in_{name}"
        ind.mkdir()
        with open(ind / f"2026-08-12-{name}.ndjson", "w") as f:
            for j in range(5):
                f.write(json.dumps({"id": j, "kind": name}) + "\n")
        out = str(tmp_path / f"out_{name}")
        start_ingest_stream(
            spark, str(ind), out, str(tmp_path / f"ckpt_{name}"),
            schema=SCHEMA, state_path=state,
        ).awaitTermination(120)
        assert spark.read.parquet(out).count() == 5
    st = {
        r["file_key"]: r["status"]
        for r in FileStateTracker(spark, state).state().collect()
    }
    assert set(st) == {"2026-08-12-a.ndjson", "2026-08-12-b.ndjson"}
    assert all(s.startswith("completed#") for s in st.values())


def test_windowed_counts_stream_and_batch_agree(spark, tmp_path):
    """ST2/ST3: event-time tumbling windows with a watermark; the batch
    run of the same plan is the oracle for the streamed one."""
    from high_throughput_etl_pipeline_spark.streaming.windowed import (
        windowed_counts,
    )
    from pyspark.sql import functions as F

    ind = tmp_path / "in"
    ind.mkdir()
    rows = []
    for h in range(3):
        for i in range(10):
            rows.append(
                {"id": h * 100 + i, "ts": f"2026-08-12 {10+h:02d}:{i*5:02d}:00",
                 "value": float(i)}
            )
    with open(ind / "events.ndjson", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    schema = "id BIGINT, ts STRING, value DOUBLE"
    stream = (
        spark.readStream.schema(schema).json(str(ind))
        .select("id", F.to_timestamp("ts").alias("ts"), "value")
    )
    out = windowed_counts(stream, "1 hour", "2 hours")
    q = (
        out.writeStream.format("memory").queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = (
        spark.read.schema(schema).json(str(ind))
        .select("id", F.to_timestamp("ts").alias("ts"), "value")
    )
    expected = {
        (str(r["window_start"]), r["n_events"], r["total_value"])
        for r in windowed_counts(batch, "1 hour").collect()
    }
    # availableNow + append emits only windows sealed by the final
    # watermark; every emitted row must match the batch oracle
    got = {
        (str(r["window_start"]), r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert got <= expected
    assert len(expected) == 3


def test_session_window_merges_across_microbatches(spark, tmp_path):
    """Streaming twin of events_session_window_native: one user's
    session arrives SPLIT across micro-batches (maxFilesPerTrigger=1),
    so the stateful session_window operator must merge the open session
    in state rather than emit two fragments.  Sealed-session output
    must equal the batch run of the identical plan — set equality, so
    a split session (two rows) or a missed merge fails loudly."""
    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.streaming.windowed import (
        session_counts,
    )

    ind = tmp_path / "in"
    ind.mkdir()
    # file 0: user 1 session A (2 events), user 2 session (1 event)
    # file 1: user 1 session A CONTINUES (within 30 min gap) + a new
    #         session B for user 1 an hour later
    # file 2: far-future flush event (user 999) advances the watermark
    #         past every real session's gap; its own session stays open
    #         in state and is never emitted
    files = [
        [
            {"user_id": 1, "ts": "2026-08-12 10:00:00", "value": 1.0},
            {"user_id": 1, "ts": "2026-08-12 10:10:00", "value": 2.0},
            {"user_id": 2, "ts": "2026-08-12 10:05:00", "value": 5.0},
        ],
        [
            {"user_id": 1, "ts": "2026-08-12 10:25:00", "value": 3.0},
            {"user_id": 1, "ts": "2026-08-12 12:00:00", "value": 4.0},
        ],
        [
            {"user_id": 999, "ts": "2026-08-13 12:00:00", "value": 0.0},
        ],
    ]
    for i, rows in enumerate(files):
        with open(ind / f"f{i}.ndjson", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    schema = "user_id BIGINT, ts STRING, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(ind))
        .select("user_id", F.to_timestamp("ts").alias("ts"), "value")
    )
    q = (
        session_counts(stream, gap="30 minutes", watermark_delay="1 hour")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = (
        spark.read.schema(schema).json(str(ind))
        .select("user_id", F.to_timestamp("ts").alias("ts"), "value")
    )
    key = lambda r: (
        r["user_id"],
        str(r["session_start"]),
        str(r["session_end"]),
        r["n_events"],
        r["total_value"],
    )
    expected = {
        key(r)
        for r in session_counts(batch, gap="30 minutes").collect()
        if r["user_id"] != 999
    }
    got = {key(r) for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert got == expected
    # the cross-batch merge really happened: user 1's first session
    # spans files 0 and 1 as ONE 3-event row
    assert (1, "2026-08-12 10:00:00", "2026-08-12 10:55:00", 3, 6.0) in got


def test_streaming_dedup_drops_in_watermark_duplicates(spark, tmp_path):
    """ST6 streaming form: duplicate (id, ts) events across micro-batches
    collapse to one row; the batch run of the same plan is the oracle."""
    from high_throughput_etl_pipeline_spark.streaming.dedup_stream import (
        deduped_stream,
    )
    from pyspark.sql import functions as F

    ind = tmp_path / "in"
    ind.mkdir()
    # two files carrying overlapping events (the re-delivered-event case)
    evs = [
        {"id": i, "ts": f"2026-08-12 10:{i % 50:02d}:00", "v": float(i)}
        for i in range(100)
    ]
    with open(ind / "a.ndjson", "w") as f:
        for r in evs[:70]:
            f.write(json.dumps(r) + "\n")
    with open(ind / "b.ndjson", "w") as f:
        for r in evs[40:]:  # 40..69 duplicated
            f.write(json.dumps(r) + "\n")

    schema = "id BIGINT, ts STRING, v DOUBLE"

    def parsed(df):
        return df.select("id", F.to_timestamp("ts").alias("ts"), "v")

    stream = parsed(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(ind))
    )
    q = (
        deduped_stream(stream, ["id"], watermark_delay="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT id FROM dedup_out").collect()
    assert len(got) == 100
    assert len({r["id"] for r in got}) == 100
    # batch symmetry: same operator, batch frame, same answer
    batch = deduped_stream(
        parsed(spark.read.schema(schema).json(str(ind))), ["id"]
    )
    assert batch.count() == 100


def test_streaming_dedup_same_key_different_ts(spark, tmp_path):
    """The by-key contract: a retry carrying the SAME key but a LATER
    event time (within the watermark) still collapses to one row."""
    from high_throughput_etl_pipeline_spark.streaming.dedup_stream import (
        deduped_stream,
    )
    from pyspark.sql import functions as F

    ind = tmp_path / "in"
    ind.mkdir()
    with open(ind / "a.ndjson", "w") as f:
        f.write(json.dumps({"id": 1, "ts": "2026-08-12 10:00:00"}) + "\n")
        f.write(json.dumps({"id": 2, "ts": "2026-08-12 10:01:00"}) + "\n")
    with open(ind / "b.ndjson", "w") as f:
        # id 1 re-delivered 5 minutes later — different ts, same key
        f.write(json.dumps({"id": 1, "ts": "2026-08-12 10:05:00"}) + "\n")

    schema = "id BIGINT, ts STRING"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(ind))
        .select("id", F.to_timestamp("ts").alias("ts"))
    )
    q = (
        deduped_stream(stream, ["id"], watermark_delay="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_keyonly_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT id FROM dedup_keyonly_out").collect()
    assert sorted(r["id"] for r in got) == [1, 2]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (clicks ← purchases within 30 min):
    the streaming result over two file streams equals the batch join of
    the same data — and late-beyond-interval purchases don't match."""
    from high_throughput_etl_pipeline_spark.streaming.stream_join import (
        interval_join_streams,
    )
    from pyspark.sql import functions as F

    clicks_dir = tmp_path / "clicks"
    buys_dir = tmp_path / "buys"
    clicks_dir.mkdir()
    buys_dir.mkdir()
    clicks = [
        {"user_id": 1, "ts": "2026-08-12 10:00:00", "page": "a"},
        {"user_id": 1, "ts": "2026-08-12 11:00:00", "page": "b"},
        {"user_id": 2, "ts": "2026-08-12 10:00:00", "page": "c"},
    ]
    buys = [
        {"user_id": 1, "ts": "2026-08-12 10:10:00", "amount": 5.0},  # ← a
        {"user_id": 1, "ts": "2026-08-12 11:20:00", "amount": 7.0},  # ← b
        {"user_id": 2, "ts": "2026-08-12 12:00:00", "amount": 9.0},  # too late
    ]
    with open(clicks_dir / "c.ndjson", "w") as f:
        for r in clicks:
            f.write(json.dumps(r) + "\n")
    with open(buys_dir / "b.ndjson", "w") as f:
        for r in buys:
            f.write(json.dumps(r) + "\n")

    c_schema = "user_id BIGINT, ts STRING, page STRING"
    b_schema = "user_id BIGINT, ts STRING, amount DOUBLE"

    def parse(df):
        return df.withColumn("ts", F.to_timestamp("ts"))

    cs = parse(spark.readStream.schema(c_schema).json(str(clicks_dir)))
    bs = parse(spark.readStream.schema(b_schema).json(str(buys_dir)))
    q = (
        interval_join_streams(cs, bs, max_span="30 minutes")
        .writeStream.format("memory")
        .queryName("sj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["l_page"], r["r_amount"])
        for r in spark.sql("SELECT l_page, r_amount FROM sj_out").collect()
    }
    assert got == {("a", 5.0), ("b", 7.0)}

    # batch symmetry: identical plan on static frames, identical rows
    cb = parse(spark.read.schema(c_schema).json(str(clicks_dir)))
    bb = parse(spark.read.schema(b_schema).json(str(buys_dir)))
    batch = {
        (r["l_page"], r["r_amount"])
        for r in interval_join_streams(cb, bb, max_span="30 minutes")
        .select("l_page", "r_amount")
        .collect()
    }
    assert batch == got


def test_stream_progress_metrics(spark, tmp_path):
    """ST7 ops: per-micro-batch progress → DataFrame, plus the one-row
    throughput/backpressure rollup."""
    from high_throughput_etl_pipeline_spark.streaming import (
        progress_dataframe,
        throughput_summary,
    )

    ind = tmp_path / "in"
    ind.mkdir()
    _write_files(ind, n_files=4, rows=20)
    q = start_ingest_stream(
        spark,
        str(ind),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        schema=SCHEMA,
        max_files_per_trigger=2,  # rate limit → at least 2 micro-batches
        available_now=True,
    )
    q.awaitTermination(120)
    prog = progress_dataframe(spark, q)
    rows = prog.filter("num_input_rows > 0").collect()
    assert len(rows) >= 2, "rate limit should split the drain into batches"
    assert sum(r["num_input_rows"] for r in rows) == 4 * 20
    assert all(r["batch_duration_ms"] > 0 for r in rows)

    summary = throughput_summary(prog).collect()[0]
    assert summary["total_rows"] == 4 * 20
    assert summary["n_batches"] >= 2
    assert summary["backpressured"] in (True, False)


def test_sketch_stream_incremental_rollup(spark, tmp_path):
    """Stored-sketch maintenance over a stream: drain NDJSON events in
    micro-batches, then (a) stored estimates equal the batch-computed
    sketch of the same data, (b) restart on the same checkpoint changes
    nothing (replay guard), (c) new data unions in WITHOUT rescanning —
    and row counts stay exact throughout."""
    import json as _json

    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.operators.sketches import (
        LG_CONFIG_K,
    )
    from high_throughput_etl_pipeline_spark.streaming.sketch_stream import (
        start_sketch_stream,
        stored_distinct_estimates,
    )

    ind = tmp_path / "in"
    ind.mkdir()

    def write_file(name, day, users):
        with open(ind / name, "w") as f:
            for i, u in enumerate(users):
                f.write(
                    _json.dumps(
                        {"ts": f"2026-08-{day:02d}T0{i % 10}:00:00", "user_id": u}
                    )
                    + "\n"
                )

    write_file("a.ndjson", 11, [1, 2, 3, 4, 5, 1, 2])
    write_file("b.ndjson", 12, [3, 4, 5, 6, 7, 8])
    table = str(tmp_path / "sketches")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts TIMESTAMP, user_id BIGINT"

    def drain():
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(ind))
        )
        q = start_sketch_stream(
            src, table, ckpt, available_now=True
        )
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    drain()
    got = {
        r["date"]: (r["approx_keys"], r["n_rows"])
        for r in stored_distinct_estimates(spark, table).collect()
    }
    assert got["2026-08-11"][1] == 7 and got["2026-08-12"][1] == 6
    assert got["ALL"][1] == 13
    # at these cardinalities HLL is exact
    assert got["2026-08-11"][0] == 5
    assert got["2026-08-12"][0] == 6
    assert got["ALL"][0] == 8  # users 1..8 across both days

    # agreement with a batch-built sketch over the same rows
    batch = spark.read.schema(schema).json(str(ind))
    whole = batch.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(LG_CONFIG_K))
        ).alias("e")
    ).first()["e"]
    assert got["ALL"][0] == whole

    # restart, same checkpoint: nothing re-merges
    drain()
    again = {
        r["date"]: (r["approx_keys"], r["n_rows"])
        for r in stored_distinct_estimates(spark, table).collect()
    }
    assert again == got

    # an actual REPLAY (foreachBatch re-delivers an already-merged batch
    # id after a crash between table swap and checkpoint commit): the
    # published snapshot id — visible in the same rename as the data —
    # must skip the merge; n_rows would double-count without it
    from high_throughput_etl_pipeline_spark.streaming import store as _sk_store
    from high_throughput_etl_pipeline_spark.streaming.sketch_stream import (
        merge_batch,
    )

    last = _sk_store.max_batch_id(table)
    assert last >= 0
    assert merge_batch(batch, last, table) is False  # replay: skipped
    assert merge_batch(batch, last - 1, table) is False
    replayed = {
        r["date"]: (r["approx_keys"], r["n_rows"])
        for r in stored_distinct_estimates(spark, table).collect()
    }
    assert replayed == got

    # incremental growth: one new file, only its rows union in
    write_file("c.ndjson", 12, [9, 10])
    drain()
    final = {
        r["date"]: (r["approx_keys"], r["n_rows"])
        for r in stored_distinct_estimates(spark, table).collect()
    }
    assert final["2026-08-12"] == (8, 8)
    assert final["ALL"] == (10, 15)

    # crash windows + deferred retention (shared store.py mechanics):
    # the snapshot superseded by the LAST merge is REALLY still on disk
    # (retired only at the next maintainer call, so an in-flight reader
    # survives), hidden from listings by the marker; a stale ._staging
    # partial is excluded from reads.  Reads mutate nothing; the
    # maintainer heal retires both.
    import os as _os
    import shutil as _shutil

    dirs = _sk_store.batch_dirs(table)
    assert len(dirs) == 1  # listing shows only the current snapshot
    latest = dirs[-1]
    raw = [
        d
        for d in _os.listdir(table)
        if d.startswith("batch_") and "._" not in d
    ]
    assert len(raw) >= 2  # superseded snapshot retained on disk
    _shutil.copytree(latest, latest + "._staging")  # stale partial
    recovered = {
        r["date"]: (r["approx_keys"], r["n_rows"])
        for r in stored_distinct_estimates(spark, table).collect()
    }
    assert recovered == final  # served latest, never double-counted
    assert _os.path.isdir(latest + "._staging")  # read mutated nothing
    _sk_store.batch_dirs(table, heal=True)  # maintainer path cleans up
    assert not _os.path.isdir(latest + "._staging")
    raw2 = [
        d
        for d in _os.listdir(table)
        if d.startswith("batch_") and "._" not in d
    ]
    assert len(raw2) == 1  # retention retired by the maintainer

    # fresh-checkpoint guard: a marker written by stream A must make a
    # merge from stream B fail loudly (batch ids restart at 0 with a new
    # checkpoint — the old >= guard would silently drop every new batch)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="checkpoint"):
        merge_batch(batch, 0, table, stream_id="another-stream")


def test_dedup_stream_incremental(spark, tmp_path):
    """Streaming near-dup dedup: batch 1 accepts canonical docs and flags
    in-batch near-dups; batch 2 dups against the STORE without rescanning
    history; restart on the same checkpoint adds nothing."""
    import json as _json

    from high_throughput_etl_pipeline_spark.streaming.dedup_stream import (
        dedup_decisions,
        start_dedup_stream,
        stored_band_index,
    )

    ind = tmp_path / "docs"
    ind.mkdir()
    base = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet green field toward the river"
    )

    def write_file(name, rows):
        with open(ind / name, "w") as f:
            for doc_id, text in rows:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    # batch 1: 1 and 2 near-identical, 3 distinct
    write_file("a.ndjson", [
        (1, base),
        (2, base + " tonight"),
        (3, "completely different content about spark shuffle planning "
            "and adaptive query execution in distributed engines today"),
    ])
    table = str(tmp_path / "dedup_store")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id BIGINT, text STRING"

    def drain():
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(ind))
        )
        q = start_dedup_stream(src, table, ckpt, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    drain()
    dec = {r["doc_id"]: r["dup_of"] for r in dedup_decisions(spark, table).collect()}
    assert dec == {1: None, 2: 1, 3: None}
    kept = {r["doc_id"] for r in stored_band_index(spark, table).collect()}
    assert kept == {1, 3}

    # batch 2: 10 dups doc 1 (which is IN THE STORE), 11 is fresh
    write_file("b.ndjson", [
        (10, base + " again"),
        (11, "a fresh unrelated paragraph regarding morton curves and "
             "parquet row group statistics for file skipping at scale"),
    ])
    drain()
    dec = {r["doc_id"]: r["dup_of"] for r in dedup_decisions(spark, table).collect()}
    assert dec == {1: None, 2: 1, 3: None, 10: 1, 11: None}
    kept = {r["doc_id"] for r in stored_band_index(spark, table).collect()}
    assert kept == {1, 3, 11}

    # restart, same checkpoint: nothing re-merges (batch dirs are the
    # replay markers)
    drain()
    assert dedup_decisions(spark, table).count() == 5

    # a DIFFERENT checkpoint against the same table must fail loudly
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="checkpoint"):
        start_dedup_stream(
            spark.readStream.schema(schema).json(str(ind)),
            table,
            str(tmp_path / "ckpt2"),
            available_now=True,
        )


def test_index_stream_matches_batch_bm25(spark, tmp_path):
    """Streaming posting-list maintenance: after N micro-batches, serving
    from the appended index answers EXACTLY like batch BM25 over the
    union of everything ingested; replay no-ops; a fresh checkpoint
    against the same table fails loudly."""
    import json as _json

    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.operators.retrieval import (
        bm25_scores,
    )
    from high_throughput_etl_pipeline_spark.streaming.index_stream import (
        bm25_from_stream_index,
        start_index_stream,
        stored_index_stats,
    )

    ind = tmp_path / "docs"
    ind.mkdir()

    def write_file(name, rows):
        with open(ind / name, "w") as f:
            for doc_id, text in rows:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    write_file("a.ndjson", [
        (1, "spark shuffle join plans and broadcast joins"),
        (2, "adaptive query execution coalesces shuffle partitions"),
        (3, "parquet row groups and column pruning"),
    ])
    table = str(tmp_path / "index_store")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id BIGINT, text STRING"

    def drain():
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(ind))
        )
        q = start_index_stream(src, table, ckpt, available_now=True)
        q.awaitTermination(120)
        q.stop()
        q.awaitTermination(30)

    terms = ["shuffle", "parquet"]

    def served():
        return {
            r["doc_id"]: (r["dl"], r["score"])
            for r in bm25_from_stream_index(spark, table, terms).collect()
        }

    def batch_truth():
        docs = spark.read.schema(schema).json(str(ind))
        return {
            r["doc_id"]: (r["dl"], r["score"])
            for r in bm25_scores(docs, terms).collect()
        }

    drain()
    got = served()
    want = batch_truth()
    assert set(got) == set(want) == {1, 2, 3}
    for d in want:
        assert got[d][0] == want[d][0]
        assert abs(got[d][1] - want[d][1]) <= 2e-6

    # batch 2 arrives: corpus constants (N, avgdl) and df CHANGE — the
    # served scores must track the merged corpus, not the first batch
    write_file("b.ndjson", [
        (10, "shuffle service external storage"),
        (11, "vectorized parquet reader with row group skipping"),
    ])
    drain()
    got = served()
    want = batch_truth()
    assert set(got) == set(want) == {1, 2, 3, 10, 11}
    for d in want:
        assert got[d][0] == want[d][0]
        assert abs(got[d][1] - want[d][1]) <= 2e-6
    stats = stored_index_stats(spark, table).first()
    assert stats["_n"] == 5.0

    # restart on the same checkpoint: no re-merge (still 2 batch dirs)
    drain()
    assert stored_index_stats(spark, table).first()["_n"] == 5.0

    # fresh checkpoint + existing table = fenced
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="checkpoint"):
        start_index_stream(
            spark.readStream.schema(schema).json(str(ind)),
            table,
            str(tmp_path / "ckpt2"),
        )


def test_index_compaction_preserves_serving_and_replay(spark, tmp_path):
    """compact_index folds N batch dirs into one: served scores are
    unchanged, absorbed batch ids still no-op on replay, and a simulated
    crash between the swap renames self-heals."""
    import os as _os
    import shutil as _shutil

    from high_throughput_etl_pipeline_spark.streaming.index_stream import (
        _batch_dirs,
        bm25_from_stream_index,
        compact_index,
        merge_index_batch,
        stored_index_stats,
    )

    table = str(tmp_path / "store")
    schema = "doc_id BIGINT, text STRING"
    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha delta")], schema
    )
    b1 = spark.createDataFrame([(3, "beta beta beta epsilon")], schema)
    b2 = spark.createDataFrame([(4, "gamma delta")], schema)
    assert merge_index_batch(b0, 0, table)
    assert merge_index_batch(b1, 1, table)
    assert merge_index_batch(b2, 2, table)

    terms = ["alpha", "beta"]
    before = {
        r["doc_id"]: (r["dl"], r["score"])
        for r in bm25_from_stream_index(spark, table, terms).collect()
    }
    assert set(before) == {1, 2, 3}

    assert compact_index(spark, table) == 3
    assert len(_batch_dirs(table)) == 1
    after = {
        r["doc_id"]: (r["dl"], r["score"])
        for r in bm25_from_stream_index(spark, table, terms).collect()
    }
    assert after == before
    assert stored_index_stats(spark, table).first()["_n"] == 4.0

    # replaying ANY absorbed batch id no-ops (monotonic guard), and a
    # genuinely new batch still lands
    assert not merge_index_batch(b0, 0, table)
    assert not merge_index_batch(b2, 2, table)
    assert merge_index_batch(
        spark.createDataFrame([(5, "epsilon alpha")], schema), 3, table
    )
    assert stored_index_stats(spark, table).first()["_n"] == 5.0

    # crash window: max-id dir renamed to ._old, replacement never
    # landed — the next read restores it and serving is intact
    dirs = _batch_dirs(table)
    _os.rename(dirs[-1], dirs[-1] + "._old")
    healed = {
        r["doc_id"]: (r["dl"], r["score"])
        for r in bm25_from_stream_index(spark, table, terms).collect()
    }
    assert set(healed) == {1, 2, 3, 5}
    # leftover staging is dropped, not served
    _os.makedirs(dirs[-1] + "._staging", exist_ok=True)
    assert len(_batch_dirs(table)) == 2


def test_vector_stream_matches_batch_ivf(spark, tmp_path):
    """Streaming IVF maintenance: after N batches the streamed index
    answers exactly like the in-memory ivf_topk over the union, with
    fixed centroids; compaction preserves answers and replay no-ops."""
    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.operators.similarity import (
        ivf_topk,
    )
    from high_throughput_etl_pipeline_spark.streaming.vector_stream import (
        compact_vectors,
        ivf_topk_stream_index,
        merge_vector_batch,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centers = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").cast("array<double>").alias("center"),
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    table = str(tmp_path / "vec_store")

    # ingest the corpus in 3 uneven batches
    assert merge_vector_batch(e.filter(F.col("vec_id") < 100), 0, table, centers)
    assert merge_vector_batch(
        e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 350)),
        1, table, centers,
    )
    assert merge_vector_batch(
        e.filter(F.col("vec_id") >= 350), 2, table, centers
    )

    rows = lambda d: [
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in d.orderBy("query_id", "rank").collect()
    ]
    base = rows(ivf_topk(e, q, k=5, nprobe=4, centers=centers))
    served = rows(
        ivf_topk_stream_index(spark, table, q, centers, k=5, nprobe=4)
    )
    assert served == base

    # the probe filter prunes each batch scan to the probed lists
    d = ivf_topk_stream_index(spark, table, q, centers, k=5, nprobe=4)
    d.collect()
    plan = d._jdf.queryExecution().executedPlan().toString()
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "list_id" in m.group(1), plan

    # compaction: one directory, same answers, absorbed ids no-op
    assert compact_vectors(spark, table) == 3
    assert rows(
        ivf_topk_stream_index(spark, table, q, centers, k=5, nprobe=4)
    ) == base
    assert not merge_vector_batch(e.limit(5), 1, table, centers)


def test_dedup_store_compaction(spark, tmp_path):
    """Folding the band store preserves decisions, the accepted index,
    and replay idempotency; incremental matching keeps working after."""
    from high_throughput_etl_pipeline_spark.streaming.dedup_stream import (
        compact_dedup_store,
        dedup_decisions,
        merge_dedup_batch,
        stored_band_index,
    )

    schema = "doc_id BIGINT, text STRING"
    base = (
        "the quick brown fox jumps over the lazy dog and keeps on "
        "running through the quiet green field toward the river"
    )
    b0 = spark.createDataFrame([(1, base), (2, base + " tonight")], schema)
    b1 = spark.createDataFrame(
        [(3, "completely different content about shuffle planning and "
             "adaptive execution in distributed query engines today")],
        schema,
    )
    table = str(tmp_path / "store")
    assert merge_dedup_batch(b0, 0, table)
    assert merge_dedup_batch(b1, 1, table)

    dec_before = {
        r["doc_id"]: r["dup_of"]
        for r in dedup_decisions(spark, table).collect()
    }
    kept_before = {
        r["doc_id"] for r in stored_band_index(spark, table).collect()
    }
    assert compact_dedup_store(spark, table) == 2
    assert {
        r["doc_id"]: r["dup_of"]
        for r in dedup_decisions(spark, table).collect()
    } == dec_before
    assert {
        r["doc_id"] for r in stored_band_index(spark, table).collect()
    } == kept_before

    # absorbed ids no-op; a store-dup in a NEW batch still resolves
    # against the compacted index
    assert not merge_dedup_batch(b0, 0, table)
    b2 = spark.createDataFrame([(10, base + " again")], schema)
    assert merge_dedup_batch(b2, 2, table)
    dec = {
        r["doc_id"]: r["dup_of"]
        for r in dedup_decisions(spark, table).collect()
    }
    assert dec[10] == 1


def test_compaction_marker_excludes_leftover_originals(spark, tmp_path):
    """A crash AFTER the compaction swap but BEFORE the absorbed
    originals are removed must not double-count: the marker inside the
    compacted directory excludes (and lazily deletes) the leftovers."""
    import os as _os

    from high_throughput_etl_pipeline_spark.streaming import store as _store
    from high_throughput_etl_pipeline_spark.streaming.index_stream import (
        bm25_from_stream_index,
        compact_index,
        merge_index_batch,
        stored_index_stats,
    )

    table = str(tmp_path / "store")
    schema = "doc_id BIGINT, text STRING"
    b0 = spark.createDataFrame([(1, "alpha beta"), (2, "alpha gamma")], schema)
    b1 = spark.createDataFrame([(3, "beta beta delta")], schema)
    assert merge_index_batch(b0, 0, table)
    assert merge_index_batch(b1, 1, table)
    before = {
        r["doc_id"]: (r["dl"], r["score"])
        for r in bm25_from_stream_index(spark, table, ["alpha", "beta"]).collect()
    }

    # compaction publishes under a FRESH generation name and leaves the
    # absorbed originals on disk (deferred retention — an in-flight
    # serving scan may still reference them); the marker excludes them
    # from every listing, so nothing double-counts
    assert compact_index(spark, table) == 2
    dirs = _store.batch_dirs(table)
    assert len(dirs) == 1
    assert _os.path.basename(dirs[0]).endswith(".c1")  # fresh name
    leftover = _store.batch_dir(table, 0)
    raw = [
        d
        for d in _os.listdir(table)
        if d.startswith("batch_") and "._" not in d
    ]
    assert len(raw) == 3  # both originals retained alongside the fold
    assert _os.path.isdir(leftover)  # reads mutate NOTHING
    assert len(_store.batch_dirs(table, heal=True)) == 1  # maintainer
    assert not _os.path.isdir(leftover)  # ...retired the originals
    # and served results never double-counted
    after = {
        r["doc_id"]: (r["dl"], r["score"])
        for r in bm25_from_stream_index(spark, table, ["alpha", "beta"]).collect()
    }
    assert after == before
    assert stored_index_stats(spark, table).first()["_n"] == 3.0


def test_cdc_stream_matches_batch_apply(spark, tmp_path):
    """Streaming CDC store: the serving snapshot after N batches equals
    operators.cdc.apply_cdc over the concatenated history; replay
    no-ops; compaction preserves answers and KEEPS tombstones; crash
    leftovers are interpreted non-destructively."""
    import os as _os
    import shutil as _shutil

    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.operators.cdc import apply_cdc
    from high_throughput_etl_pipeline_spark.streaming import store as _store
    from high_throughput_etl_pipeline_spark.streaming.cdc_stream import (
        cdc_snapshot,
        compact_cdc_store,
        merge_cdc_batch,
    )

    table = str(tmp_path / "cdc")
    schema = "id BIGINT, name STRING, val DOUBLE, seq BIGINT, op STRING"
    batches = [
        # b0: initial inserts, one intra-batch flip-flop (id 3 I->U)
        [
            (1, "a", 1.0, 1, "I"),
            (2, "b", 2.0, 1, "I"),
            (3, "c", 3.0, 1, "I"),
            (3, "c2", 3.5, 2, "U"),
        ],
        # b1: update 1, delete 2, insert 4
        [(1, "a2", 1.5, 1, "U"), (2, None, 0.0, 1, "D"), (4, "d", 4.0, 1, "I")],
        # b2: re-insert 2 (later batch beats b1's delete), delete 3
        [(2, "b2", 2.5, 1, "I"), (3, None, 0.0, 1, "D")],
    ]
    frames = [spark.createDataFrame(rows, schema) for rows in batches]
    for i, f in enumerate(frames):
        assert merge_cdc_batch(f, i, table, ["id"])

    def snap():
        return {
            r["id"]: (r["name"], r["val"])
            for r in cdc_snapshot(spark, table, ["id"]).collect()
        }

    got = snap()
    assert got == {1: ("a2", 1.5), 2: ("b2", 2.5), 4: ("d", 4.0)}
    # identical to the batch operator over the concatenated history
    # (batch order folded into the ordering key)
    hist = None
    for i, f in enumerate(frames):
        f2 = f.withColumn(
            "seq", F.col("seq") + F.lit(i * 1000)
        )  # same total order
        hist = f2 if hist is None else hist.unionByName(f2)
    empty = spark.createDataFrame([], "id BIGINT, name STRING, val DOUBLE")
    ref = {
        r["id"]: (r["name"], r["val"])
        for r in apply_cdc(empty, hist, ["id"]).collect()
    }
    assert got == ref

    # replay no-ops
    assert not merge_cdc_batch(frames[0], 0, table, ["id"])
    assert not merge_cdc_batch(frames[2], 2, table, ["id"])
    assert snap() == got

    # compaction: one dir, same answers, tombstones retained
    assert compact_cdc_store(spark, table, ["id"]) == 3
    assert len(_store.batch_dirs(table)) == 1
    assert snap() == got
    ops = {
        (r["id"], r["op"])
        for r in spark.read.parquet(*_store.batch_dirs(table)).collect()
    }
    assert (3, "D") in ops  # delete survives compaction

    # absorbed-id replay still no-ops after compaction; new batch lands
    assert not merge_cdc_batch(frames[1], 1, table, ["id"])
    b3 = spark.createDataFrame([(5, "e", 5.0, 1, "I")], schema)
    assert merge_cdc_batch(b3, 3, table, ["id"])
    assert snap() == {**got, 5: ("e", 5.0)}

    # crash window: swap died between renames -> only ._old remains;
    # reads interpret the stand-in, serving stays intact, nothing mutated
    dirs = _store.batch_dirs(table)
    _os.rename(dirs[0], dirs[0] + "._old")
    assert snap() == {**got, 5: ("e", 5.0)}
    assert _os.path.isdir(dirs[0] + "._old")  # read didn't rename it back
    # maintainer heal restores it in place
    _store.batch_dirs(table, heal=True)
    assert _os.path.isdir(dirs[0])


def test_maxsim_stream_index_matches_in_memory(spark, tmp_path):
    """Two-stage MaxSim over the streaming IVF store answers exactly
    like maxsim_ann_topk over the ingested union (fixed centers)."""
    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.operators.similarity import (
        maxsim_ann_topk,
    )
    from high_throughput_etl_pipeline_spark.streaming.vector_stream import (
        maxsim_stream_index,
        merge_vector_batch,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centers = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").cast("array<double>").alias("center"),
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    table = str(tmp_path / "vstore")
    b0 = e.filter(F.col("vec_id") % 2 == 0)
    b1 = e.filter(F.col("vec_id") % 2 == 1)
    assert merge_vector_batch(b0, 0, table, centers)
    assert merge_vector_batch(b1, 1, table, centers)

    rows = lambda d: [
        (r["query_id"], r["rank"], r["vec_id"], r["maxsim"])
        for r in d.orderBy("query_id", "rank").collect()
    ]
    got = rows(maxsim_stream_index(spark, table, q, centers, k=5))
    ref = rows(maxsim_ann_topk(e, q, centers, k=5))
    assert got == ref and len(got) == 15


def test_sketch_store_legacy_layout_rejected(spark, tmp_path):
    """The pre-store.py layout shim was a one-round migration (r7) and
    is retired: a table with _last_batch_id at its root must fail LOUD
    on both the read and maintainer paths — serving it as an empty
    store would silently abandon accumulated history."""
    import os as _os

    import pytest as _pytest

    from high_throughput_etl_pipeline_spark.streaming.sketch_stream import (
        merge_batch,
        stored_distinct_estimates,
    )

    table = str(tmp_path / "legacy")
    _os.makedirs(table)
    with open(_os.path.join(table, "_last_batch_id"), "w") as f:
        f.write("legacy-sid 3")

    with _pytest.raises(RuntimeError, match="legacy"):
        stored_distinct_estimates(spark, table)
    batch = spark.createDataFrame([], "ts TIMESTAMP, user_id BIGINT")
    with _pytest.raises(RuntimeError, match="legacy"):
        merge_batch(batch, 4, table)
    # nothing was mutated by the failed calls
    assert _os.listdir(table) == ["_last_batch_id"]


def test_cdc_global_seq_ordering(spark, tmp_path):
    """With global_seq=True the source LSN is the authority: a stale
    change arriving in a LATER micro-batch (backfill/redelivery) never
    overrides a newer one; the default arrival order takes the later
    batch."""
    from high_throughput_etl_pipeline_spark.streaming.cdc_stream import (
        cdc_snapshot,
        merge_cdc_batch,
    )

    schema = "id BIGINT, name STRING, seq BIGINT, op STRING"
    table = str(tmp_path / "cdc_lsn")
    assert merge_cdc_batch(
        spark.createDataFrame([(1, "new", 5, "U")], schema), 0, table, ["id"]
    )
    assert merge_cdc_batch(
        spark.createDataFrame([(1, "stale", 3, "U")], schema), 1, table, ["id"]
    )
    arrival = cdc_snapshot(spark, table, ["id"]).collect()
    assert arrival[0]["name"] == "stale"  # batch order wins by default
    lsn = cdc_snapshot(spark, table, ["id"], global_seq=True).collect()
    assert lsn[0]["name"] == "new"  # seq wins under global_seq


def test_store_serves_during_compaction(spark, tmp_path):
    """The ADVICE-r6 operating mode, end-to-end: serving queries run
    CONCURRENTLY with compaction and every read returns the correct
    result — possible only because reads are non-destructive (they
    interpret crash artifacts instead of renaming/deleting directories
    an in-flight scan may reference).  Best-effort interleaving (the
    reader loops while the maintainer compacts); even without overlap
    the invariant assertions hold."""
    import threading

    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.streaming.vector_stream import (
        compact_vectors,
        ivf_topk_stream_index,
        merge_vector_batch,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centers = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("list_id"),
        F.col("embedding").cast("array<double>").alias("center"),
    )
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    table = str(tmp_path / "vstore")
    for i in range(5):
        assert merge_vector_batch(
            e.filter(F.col("vec_id") % 5 == i), i, table, centers
        )

    def serve():
        return sorted(
            (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
            for r in ivf_topk_stream_index(
                spark, table, q, centers, k=5
            ).collect()
        )

    expected = serve()
    errors: list[Exception] = []
    results: list[list] = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                results.append(serve())
        except Exception as exc:  # pragma: no cover - failure capture
            errors.append(exc)

    t = threading.Thread(target=reader)
    t.start()
    try:
        assert compact_vectors(spark, table) == 5
        # a few more post-compaction reads race the leftover cleanup too
        for _ in range(2):
            results.append(serve())
    finally:
        stop.set()
        t.join(60)
    assert not errors, errors
    assert results and all(r == expected for r in results)


def test_funnel_stream_matches_batch_walk(spark, tmp_path):
    """Streaming CEP funnel: per-user slots persist across micro-batches
    (maxFilesPerTrigger=1), conversions emit exactly once, and the
    emitted set equals the batch funnel_walk's converted users under
    time-ordered delivery — the operator's documented contract."""
    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.operators.sequence import (
        funnel_walk,
    )
    from high_throughput_etl_pipeline_spark.streaming.funnel_stream import (
        funnel_stream,
    )

    ind = tmp_path / "in"
    ind.mkdir()
    files = [
        [  # batch 0
            {"user_id": 1, "ts": "2026-08-12 10:00:00", "event_type": "view"},
            {"user_id": 2, "ts": "2026-08-12 10:00:00", "event_type": "view"},
            {"user_id": 3, "ts": "2026-08-12 10:00:00", "event_type": "click"},
        ],
        [  # batch 1: u1 advances; u2 completes in-batch later; u3's
           # click preceded any view so its chain never starts
            {"user_id": 1, "ts": "2026-08-12 11:00:00", "event_type": "click"},
            {"user_id": 2, "ts": "2026-08-12 10:30:00", "event_type": "click"},
            {"user_id": 2, "ts": "2026-08-12 10:45:00", "event_type": "purchase"},
            {"user_id": 3, "ts": "2026-08-12 11:00:00", "event_type": "view"},
        ],
        [  # batch 2: u1 converts across three batches; u4 completes
           # but outside the window (3 days)
            {"user_id": 1, "ts": "2026-08-12 12:00:00", "event_type": "purchase"},
            {"user_id": 4, "ts": "2026-08-12 10:00:00", "event_type": "view"},
            {"user_id": 4, "ts": "2026-08-12 10:05:00", "event_type": "click"},
            {"user_id": 4, "ts": "2026-08-15 10:00:00", "event_type": "purchase"},
        ],
    ]
    import os as _os

    for i, rows in enumerate(files):
        p = ind / f"f{i}.ndjson"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        # the file source orders micro-batches by modification time;
        # same-millisecond writes would tie and deliver out of order,
        # violating the operator's documented in-order contract
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    schema = "user_id BIGINT, ts STRING, event_type STRING"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(ind))
        .select("user_id", F.to_timestamp("ts").alias("ts"), "event_type")
    )
    q = (
        funnel_stream(
            stream, ["view", "click", "purchase"], within_seconds=86400
        )
        .writeStream.format("memory")
        .queryName("funnel_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["t_0"], r["t_2"], r["seconds_to_convert"])
        for r in spark.sql("SELECT * FROM funnel_out").collect()
    }

    batch = (
        spark.read.schema(schema).json(str(ind))
        .select("user_id", F.to_timestamp("ts").alias("ts"), "event_type")
    )
    expected = {
        (
            r["user_id"],
            int(r["t_0"].timestamp()),
            int(r["t_2"].timestamp()),
            r["seconds_to_convert"],
        )
        for r in funnel_walk(
            batch, ["view", "click", "purchase"], within_seconds=86400
        ).collect()
        if r["converted"]
    }
    assert got == expected
    assert {u for (u, *_id) in got} == {1, 2}  # u3 never starts, u4 misses window


def test_drift_stream_matches_batch_psi(spark, tmp_path):
    """Streaming drift monitor: bucket counts accumulate across
    micro-batches into the snapshot store; stored_psi over the stored
    counts must EXACTLY equal the batch population_stability of the
    same data (same edges, same proportions, same fold order).  Replay
    of an absorbed batch id no-ops."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.plans.metrics import (
        population_stability,
    )
    from high_throughput_etl_pipeline_spark.streaming.drift_stream import (
        merge_batch,
        start_drift_stream,
        stored_psi,
    )

    ref = spark.range(1000).selectExpr("CAST(id % 100 AS DOUBLE) AS value")
    qs = [i / 10 for i in range(1, 10)]
    edges = list(
        ref.agg(
            *[F.percentile("value", F.lit(q)).alias(f"q{i}")
              for i, q in enumerate(qs)]
        ).first()
    )
    ref_counts_rows = (
        ref.selectExpr(
            "aggregate(array({}), 0, (acc, e) -> acc + IF(value > e, 1, 0)) AS b".format(
                ",".join(repr(e) for e in edges)
            )
        )
        .groupBy("b").count().collect()
    )
    by_bucket = {r["b"]: r["count"] for r in ref_counts_rows}
    ref_counts = [by_bucket.get(i, 0) for i in range(10)]

    # current traffic: shifted distribution, split across micro-batches
    ind = tmp_path / "in"
    ind.mkdir()
    for i in range(2):
        p = ind / f"f{i}.ndjson"
        with open(p, "w") as f:
            for j in range(500):
                f.write(_json.dumps({"value": 50.0 + (i * 500 + j) % 100}) + "\n")
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    table = str(tmp_path / "drift")
    stream = spark.readStream.schema("value DOUBLE").option(
        "maxFilesPerTrigger", 1
    ).json(str(ind))
    q = start_drift_stream(
        stream, table, str(tmp_path / "ckpt"), edges,
        available_now=True,
    )
    q.awaitTermination(120)

    got = stored_psi(spark, table, ref_counts).first()
    cur = spark.read.schema("value DOUBLE").json(str(ind))
    exp = population_stability(ref, cur, "value").first()
    assert got["psi"] == exp["psi"]
    assert got["n_cur"] == 1000 and got["psi"] > 0.25
    assert got["worst_bucket"] == exp["worst_bucket"]
    assert got["n_shifted_buckets"] == exp["n_shifted_buckets"]

    # replayed batch id no-ops; a fresh id merges
    batch = spark.createDataFrame([(1.0,)], "value DOUBLE")
    assert merge_batch(batch, 0, table, edges) is False
    assert merge_batch(batch, 99, table, edges) is True
    assert stored_psi(spark, table, ref_counts).first()["n_cur"] == 1001


def test_cusum_stream_matches_batch_fold(spark, tmp_path):
    """Streaming CUSUM monitor: (group, day) counts accumulate across
    micro-batches — including a day SPLIT across two batches — and the
    stored_cusum read must EXACTLY equal the batch cusum_alarms fold of
    the same rows under the same frozen (target, allowance).  Replayed
    batch ids no-op."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.operators.timeseries import (
        cusum_alarms,
    )
    from high_throughput_etl_pipeline_spark.streaming.cusum_stream import (
        merge_batch,
        start_cusum_stream,
        stored_cusum,
    )

    # 6 days at ~100/day then 4 days at ~160/day; day boundaries do
    # NOT align with batch boundaries (file 0 ends mid-day-5)
    rows = []
    for day in range(1, 7):
        rows += [("a", f"2026-01-{day:02d}T12:00:{i % 60:02d}")
                 for i in range(100)]
    for day in range(7, 11):
        rows += [("a", f"2026-01-{day:02d}T12:00:{i % 60:02d}")
                 for i in range(160)]
    ind = tmp_path / "in"
    ind.mkdir()
    half = len(rows) // 2 + 37  # split inside a day
    for i, chunk in enumerate((rows[:half], rows[half:])):
        p = ind / f"f{i}.ndjson"
        with open(p, "w") as f:
            for g, ts in chunk:
                f.write(_json.dumps({"event_type": g, "ts": ts}) + "\n")
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    table = str(tmp_path / "cusum")
    stream = (
        spark.readStream.schema("event_type STRING, ts STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(ind))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = start_cusum_stream(
        stream, table, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    got = stored_cusum(spark, table, target=100, allowance=5).collect()
    batch = (
        spark.read.schema("event_type STRING, ts STRING")
        .json(str(ind))
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"))
        .groupBy(
            F.col("event_type").cast("string").alias("grp"),
            F.to_date("ts").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    exp = cusum_alarms(
        batch, group_col="grp", order_col="d", x_col="n",
        target=100, allowance=5,
    ).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in exp]
    # the shifted regime must actually alarm, and the stable prefix not
    by_day = {r.d.day: r for r in got}
    assert any(r.alarm_up for d, r in by_day.items() if d >= 7)
    assert not any(r.alarm_up for d, r in by_day.items() if d <= 6)

    # replayed batch id no-ops
    dummy = spark.createDataFrame(
        [("a", "2026-01-01T00:00:00")], "event_type STRING, ts STRING"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert merge_batch(dummy, 0, table) is False
    again = stored_cusum(spark, table, target=100, allowance=5).collect()
    assert [r.asDict() for r in again] == [r.asDict() for r in exp]


def test_quantile_stream_incremental_histogram(spark, tmp_path):
    """Stored quantile-sketch maintenance over a stream: (a) the
    stream-built per-day log-histogram equals the batch-built one
    bit-for-bit, (b) restart on the same checkpoint changes nothing
    (count sums are NOT replay-idempotent, so this leg is load-bearing
    here), (c) new data merges in without rescanning history, and
    (d) stored quantile estimates land within one bucket's relative
    width of the exact order statistic."""
    import json as _json
    import math

    from pyspark.sql import functions as F

    from high_throughput_etl_pipeline_spark.streaming.quantile_stream import (
        QSK_SUBBUCKETS,
        histogram_of,
        start_quantile_stream,
        stored_quantile_estimates,
    )

    ind = tmp_path / "in"
    ind.mkdir()

    def write_file(name, day, values):
        with open(ind / name, "w") as f:
            for i, v in enumerate(values):
                f.write(
                    _json.dumps(
                        {
                            "ts": f"2026-08-{day:02d}T0{i % 10}:00:00",
                            "value": v,
                        }
                    )
                    + "\n"
                )

    write_file("a.ndjson", 11, [1.0, 2.5, 7.0, 7.0, 40.0, 0.0])
    write_file("b.ndjson", 12, [0.5, 3.0, 9.0, 100.0, 1000.0])
    table = str(tmp_path / "qsketch")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts TIMESTAMP, value DOUBLE"

    def drain():
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(ind))
        )
        q = start_quantile_stream(src, table, ckpt, available_now=True)
        q.awaitTermination()

    drain()

    def stored_rows():
        from high_throughput_etl_pipeline_spark.streaming.quantile_stream import (
            QSK_SCHEMA,
        )
        from high_throughput_etl_pipeline_spark.streaming.sketch_stream import (
            _current_snapshot,
        )

        cur = _current_snapshot(table)
        return sorted(
            tuple(r)
            for r in spark.read.schema(QSK_SCHEMA).parquet(cur).collect()
        )

    batch_df = spark.read.schema(schema).json(str(ind))
    expect = sorted(tuple(r) for r in histogram_of(batch_df).collect())
    assert stored_rows() == expect  # stream ≡ batch, exactly

    drain()  # restart, same checkpoint: replay guard must no-op
    assert stored_rows() == expect

    write_file("c.ndjson", 12, [9.0, 9.0, 0.25])
    drain()  # only the new file merges
    batch_df = spark.read.schema(schema).json(str(ind))
    expect = sorted(tuple(r) for r in histogram_of(batch_df).collect())
    assert stored_rows() == expect

    # quantile estimates: within one log-bucket of the exact quantile
    est = {
        (r["date"], r["q"]): r["est"]
        for r in stored_quantile_estimates(
            spark, table, qs=(0.5, 0.95)
        ).collect()
    }
    raw = {}
    for r in batch_df.collect():
        raw.setdefault(str(r["ts"].date()), []).append(r["value"])
        raw.setdefault("ALL", []).append(r["value"])
    rel = 2 ** (1.0 / QSK_SUBBUCKETS)
    for (day, q), e in est.items():
        xs = sorted(raw[day])
        exact = xs[math.ceil(q * len(xs)) - 1]  # type-1 lower quantile
        if exact <= 0:
            assert e == 0.0
        else:
            assert exact / rel <= e <= exact * rel, (day, q, e, exact)
