"""``stream_ingest``: an open loop of file arrivals drained by
``start_ingest_stream(..., available_now=False)`` with no state tracker.

Pre-staged NDJSON files are renamed into the watched directory at
``RATE`` files per second for the run's seconds, from a separate thread,
so an arrival costs the generator almost nothing.  An operation is a
file; its latency is the commit time of the micro-batch that wrote it
(progress ``timestamp`` + ``durationMs.triggerExecution``) minus its
scheduled arrival.  A file not committed ``DRAIN_S`` after the last
arrival counts as failed.  The generator's lateness per arrival is
recorded, and a run where it lagged more than ``LATE_LIMIT_S`` is marked
invalid.

The stream writes each batch with dynamic partition overwrite, but the
engine sets ``partitionOverwriteMode=dynamic`` on the outer session
inside the batch function, while the write runs in the stream's cloned
session where the mode is still static: each batch then overwrites the
previous ``_batch=`` partitions and only the last survives.  The
benchmark sets the mode before the stream starts, so the clone inherits
it; :func:`check_stream_output` flags any file whose rows are missing.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import nullcontext
from datetime import datetime, timezone

from perfbench import gen
from perfbench.outputs import dataset

# Files of the smallest size the reference's validation accepts
# (3.5 MB - 50%), at 1.25 files/s: once warm, a micro-batch of one such
# file takes ~0.3 s on 4 cores (about as long for a 0.5 MB file: the
# time is per-batch overhead), so the stream is busy ~40% of the time
# and a host slowdown of 2x still queues no file.  At the reference's
# 2-3.9 files/s peak the stream saturates and freshness becomes a
# queueing artefact.
RATE = 1.25
FILE_MB = 1.75
DRAIN_S = 30.0
LATE_LIMIT_S = 0.5
# warm-up: a stream of its own that gets each file only once the one
# before it is committed, so every file makes a micro-batch of its own
# (paced by time, the slow first batches merge most of the files into
# two or three).  Batch times fall from ~0.6 s to ~0.3 s over the first
# twenty or so batches; after a warm-up of ten the timed batches were
# still on that slope and their latency swung by a quarter between
# runs.  The warm-up's files are small, so its batches are quick.
WARM_FILES = 24
WARM_FILE_MB = 0.25

_PHASES = {
    "latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution",
}


def check_stream_output(out_dir: str, expected: dict[str, int]) -> tuple[dict[str, int], list[str]]:
    """Read the stream's output independently of Spark and check that
    every file's rows are there, written by exactly one micro-batch.

    Returns file name → the batch that committed it (files that pass),
    and the problems found.
    """
    found: dict[str, dict[int, int]] = {}
    if os.path.isdir(out_dir):
        table = dataset(out_dir).to_table(
            columns=["_source_file", "_batch"])
        counts = table.group_by(["_source_file", "_batch"]).aggregate([([], "count_all")])
        for src, batch, n in zip(*(counts.column(c).to_pylist()
                                   for c in ("_source_file", "_batch", "count_all"))):
            found.setdefault(os.path.basename(src), {})[int(batch)] = n
    committed, problems = {}, []
    for name, lines in expected.items():
        got = found.get(name, {})
        if len(got) > 1:
            problems.append(f"{name} written by batches {sorted(got)}")
        elif sum(got.values()) != lines:
            problems.append(f"{name}: {sum(got.values())} rows, expected {lines}")
        else:
            committed[name] = next(iter(got))
    extra = sorted(set(found) - set(expected))
    if extra:
        problems.append(f"unexpected files in output: {extra[:3]}")
    return committed, problems


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Keeps the progress of every micro-batch that read data."""

        def __init__(self):
            self.batches: dict[int, dict] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            if p.get("numInputRows", 0) > 0:
                self.batches[p["batchId"]] = p

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def _committed_rows(progress) -> int:
    return sum(p["numInputRows"] for p in list(progress.batches.values()))


def _arrive(staged: str, in_dir: str, names: list[str], t0: float, rate: float,
            late: list[float]) -> None:
    for i, name in enumerate(names):
        due = t0 + i / rate
        if due > time.time():
            time.sleep(due - time.time())
        os.rename(os.path.join(staged, name), os.path.join(in_dir, name))
        late.append(time.time() - due)


def _arrive_after_commit(staged: str, in_dir: str, names: list[str], lines: dict,
                         progress, query) -> None:
    committed = 0
    for name in names:
        os.rename(os.path.join(staged, name), os.path.join(in_dir, name))
        committed += lines[name]
        deadline = time.time() + DRAIN_S
        while (_committed_rows(progress) < committed
               and time.time() < deadline and query.exception() is None):
            time.sleep(0.01)


class StreamIngest:
    name = "stream_ingest"
    aliases = {"latency_p50_s": "stream_latency_p50_s",
               "latency_p90_s": "stream_latency_p90_s"}
    layers = ("streaming.",)

    def generate(self, data_dir: str, seed: int, seconds: int) -> dict:
        staged = os.path.join(data_dir, "staged")
        return {"staged": staged,
                "lines": gen.stream_files(staged, seed, max(int(RATE * seconds), 1), FILE_MB)}

    def instrument(self, tracer) -> None:
        from high_throughput_etl_pipeline_spark.streaming import ingest_stream

        tracer.wrap(ingest_stream, "start_ingest_stream", "streaming.start")

    def _stream(self, spark, staged: str, lines: dict, work: str, rate: float | None,
                tracer=None):
        """Run one stream over ``lines``' files, arriving at ``rate`` files
        per second, or each after the one before is committed if None."""
        from high_throughput_etl_pipeline_spark.streaming import ingest_stream

        in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
        os.makedirs(in_dir, exist_ok=True)
        # see the module docstring: the stream's cloned session must
        # inherit dynamic partition overwrite, or batches overwrite each other
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        progress = _listener()
        spark.streams.addListener(progress)
        names = sorted(lines)
        late: list[float] = []
        with tracer.span("bench.stream") if tracer else nullcontext({}) as top:
            query = ingest_stream.start_ingest_stream(
                spark, in_dir, out_dir, os.path.join(work, "checkpoint"),
                schema=gen.RECORD_SCHEMA, available_now=False)
            try:
                t0 = time.time() + 0.5
                mover = threading.Thread(
                    target=_arrive, args=(staged, in_dir, names, t0, rate, late),
                ) if rate else threading.Thread(
                    target=_arrive_after_commit,
                    args=(staged, in_dir, names, lines, progress, query))
                mover.start()
                mover.join()
                total = sum(lines.values())
                deadline = time.time() + DRAIN_S
                while (_committed_rows(progress) < total
                       and time.time() < deadline and query.exception() is None):
                    time.sleep(0.05)
            finally:
                query.stop()
                spark.streams.removeListener(progress)
        committed, problems = check_stream_output(out_dir, lines)
        if query.exception() is not None:
            problems.append(f"stream failed: {str(query.exception())[:300]}")
        commit = {b: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
                  for b, p in progress.batches.items()}
        latencies = {n: commit[b] - (t0 + i / rate)
                     for i, n in enumerate(names)
                     if n in committed and (b := committed[n]) in commit} if rate else {}
        if tracer:
            for b, p in sorted(progress.batches.items()):
                start = _epoch(p["timestamp"])
                tracer.add("streaming.batch", start, commit[b], top["id"], batch=b)
        return {"latencies": latencies, "late": late, "problems": problems,
                "batches": progress.batches, "committed": committed}

    def warm_up(self, spark, work: str, seed: int) -> None:
        staged = os.path.join(work, "staged")
        lines = gen.stream_files(staged, seed + 1, WARM_FILES, WARM_FILE_MB)
        r = self._stream(spark, staged, lines, work, None)
        if r["problems"]:
            raise RuntimeError(f"stream warm-up failed: {r['problems'][:3]}")

    def measure(self, spark, inputs: dict, seconds: float, tracer, work: str) -> dict:
        lines = inputs["lines"]
        r = self._stream(spark, inputs["staged"], lines, work, RATE, tracer=tracer)
        lat = sorted(r["latencies"].values())
        problems = list(r["problems"])
        worst = max(r["late"], default=0.0)
        if worst > LATE_LIMIT_S:
            problems.append(f"invalid run: generator ran {worst:.3f} s late")
        data = list(r["batches"].values())
        return {
            "latencies": lat,
            "work": [sum(p["durationMs"]["triggerExecution"] for p in data) / 1000],
            "attempted": len(lines),
            "failed": len(lines) - len(r["latencies"]),
            "problems": problems,
            "stream": r,
            "detail": {
                "stream_rate_files_per_s": (RATE, "1/s"),
                "stream_generator_late_max_s": (worst, "s"),
                "stream_generator_late_p50_s": (statistics.median(r["late"]), "s"),
            },
        }

    def layer_metrics(self, tracer, m: dict, inputs: dict) -> dict:
        r = m["stream"]
        data = [r["batches"][b] for b in sorted(r["batches"])]
        per_batch = {}
        for b in r["committed"].values():
            per_batch[b] = per_batch.get(b, 0) + 1
        out = {f"streaming.{k}": statistics.median(p["durationMs"].get(v, 0) for p in data)
               for k, v in _PHASES.items()} if data else {}
        out["streaming.batches"] = len(data)
        out["streaming.files_per_batch"] = statistics.median(per_batch.values()) if per_batch else 0
        out["streaming.generator_late_ms"] = max(r["late"], default=0.0) * 1000
        return out
