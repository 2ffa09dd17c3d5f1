"""``pipeline_batch``: ``PipelineRunner.run`` on a drop zone, then again on
the same listing (a redelivery).

One cycle = fresh state table, output, quarantine and report dirs; the
first run tracks, batches, claims, processes and flips every manifest;
the redelivery run must track nothing and create no manifest.  Cycles
repeat until the run's time is up.  An operation is a manifest.

Per-file latency is the commit time of the file's manifest (the state
row's ``updated_at`` from the completed flip) minus the start of the run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext
from datetime import timezone

from perfbench import gen
from perfbench.outputs import dataset, dir_bytes

# yesterday (flushed as a partial orphan batch), today, tomorrow
FILES_PER_DATE = (1, 2, 2)
BATCH_SIZE = 2


def _epoch(value) -> float:
    if value.tzinfo is None:
        value = value.replace(tzinfo=timezone.utc)
    return value.timestamp()


class PipelineBatch:
    name = "pipeline_batch"
    aliases: dict[str, str] = {}
    layers = ("pipeline.", "state.", "ingest.", "sources.")

    def generate(self, data_dir: str, seed: int, seconds: int,
                 files_per_date=FILES_PER_DATE, size_mb: float = gen.FILE_MB) -> dict:
        dz = gen.drop_zone(os.path.join(data_dir, "dropzone"), seed, files_per_date, size_mb)
        dz["input_bytes"] = sum(os.path.getsize(p) for p in dz["lines"])
        return dz

    def instrument(self, tracer) -> None:
        from high_throughput_etl_pipeline_spark import ingest, pipeline
        from high_throughput_etl_pipeline_spark.sources import parquet_sink, reports
        from high_throughput_etl_pipeline_spark.state.manifest import ManifestStore
        from high_throughput_etl_pipeline_spark.state.tracker import FileStateTracker

        tracer.wrap(pipeline.PipelineRunner, "run", "pipeline.run")
        tracer.wrap(FileStateTracker, "track_files", "state.track")
        tracer.wrap(FileStateTracker, "claim_files", "state.claim")
        tracer.wrap(FileStateTracker, "update_status_for_manifest", "state.flip")
        tracer.wrap(ManifestStore, "record", "state.manifest")
        tracer.wrap(ManifestStore, "update_status", "state.manifest")
        tracer.wrap(pipeline, "process_manifest", "ingest.process")
        tracer.wrap(ingest, "read_ndjson", "sources.infer")
        tracer.wrap(parquet_sink, "estimate_avg_row_bytes", "sources.size_sample")
        tracer.wrap(ingest, "write_date_partitioned_parquet", "sources.write")
        tracer.wrap(reports, "build_run_report", "sources.report")
        tracer.wrap(reports, "write_report", "sources.report")

    def _runner(self, spark, dz: dict, cycle_dir: str, batch_size: int):
        """A runner on fresh state, output, quarantine and report dirs, and
        the drop zone's listing (the invalid file included)."""
        from high_throughput_etl_pipeline_spark.pipeline import PipelineRunner

        files = [*dz["lines"], dz["invalid"]]
        listing = spark.createDataFrame(
            [(p, os.path.getsize(p) / 2**20) for p in files],
            "file_path STRING, file_size_mb DOUBLE",
        )
        d = {k: os.path.join(cycle_dir, k) for k in ("state", "out", "quarantine", "reports")}
        runner = PipelineRunner(
            spark, d["state"], d["out"], quarantine_dir=d["quarantine"],
            batch_size=batch_size, reports_dir=d["reports"],
        )
        return runner, listing, d

    def _cycle(self, spark, dz: dict, cycle_dir: str, tracer) -> dict:
        runner, listing, d = self._runner(spark, dz, cycle_dir, BATCH_SIZE)

        def phase(name):
            return tracer.span(name) if tracer else nullcontext({})

        t0 = time.time()
        with phase("bench.first_run") as first:
            r1 = runner.run(listing, today=dz["today"])
        t1 = time.time()
        with phase("bench.redelivery") as again:
            r2 = runner.run(listing, today=dz["today"])
        t2 = time.time()
        return {"t0": t0, "first_s": t1 - t0, "redelivery_s": t2 - t1,
                "r1": r1, "r2": r2, "dirs": d, "spans": (first, again)}

    def _check(self, dz: dict, c: dict) -> tuple[list[str], list[float]]:
        """Problems found in one cycle's outputs, and per-file latencies."""
        r1, r2, d = c["r1"], c["r2"], c["dirs"]
        expected = sum(dz["lines"].values())
        problems = []
        if r1.records_written != expected:
            problems.append(f"records_written {r1.records_written} != {expected}")
        out_rows = dataset(d["out"]).count_rows() if os.path.isdir(d["out"]) else 0
        if out_rows != expected:
            problems.append(f"output rows {out_rows} != {expected}")
        quarantined = set(
            dataset(d["quarantine"]).to_table(columns=["file_path"])
            .column("file_path").to_pylist()
        ) if os.path.isdir(d["quarantine"]) else set()
        if r1.files_quarantined != 1 or quarantined != {dz["invalid"]}:
            problems.append(f"quarantined {r1.files_quarantined} files: {sorted(quarantined)}")
        state = dataset(d["state"]).to_table(
            columns=["file_path", "status", "updated_at"]).to_pylist() if os.path.isdir(d["state"]) else []
        if sorted(r["file_path"] for r in state) != sorted(dz["lines"]):
            problems.append(f"state has {len(state)} rows for {len(dz['lines'])} files")
        bad = [r["status"] for r in state if not r["status"].startswith("completed#")]
        if bad:
            problems.append(f"{len(bad)} state rows not completed#N: {bad[:3]}")
        if r2.files_tracked or r2.manifests_created:
            problems.append(
                f"redelivery tracked {r2.files_tracked} files, "
                f"created {r2.manifests_created} manifests")
        if r1.manifests_failed or r1.errors:
            problems.append(f"{r1.manifests_failed} manifests failed: {r1.errors[:1]}")
        latencies = [_epoch(r["updated_at"]) - c["t0"] for r in state
                     if r["status"].startswith("completed#")]
        return problems, latencies

    def warm_up(self, spark, work: str, seed: int) -> None:
        # one whole cycle on inputs of the measured size: after a warm-up
        # of one manifest the first measured cycle still ran ~25% slower
        # than the ones after it
        dz = self.generate(work, seed + 1, 0)
        c = self._cycle(spark, dz, os.path.join(work, "cycle"), None)
        problems, _ = self._check(dz, c)
        shutil.rmtree(work, ignore_errors=True)
        if problems:
            raise RuntimeError(f"pipeline warm-up failed: {problems[:3]}")

    def measure(self, spark, dz: dict, seconds: float, tracer, work: str) -> dict:
        # whole cycles that fit in the run's time, at least one
        deadline = time.time() + seconds
        cycles, latencies, problems, attempted, failed = [], [], [], 0, 0
        while not cycles or time.time() + cycles[-1]["first_s"] + cycles[-1]["redelivery_s"] < deadline:
            cycle_dir = os.path.join(work, f"cycle{len(cycles)}")
            c = self._cycle(spark, dz, cycle_dir, tracer)
            found, lat = self._check(dz, c)
            c["output_bytes"] = dir_bytes(c["dirs"]["out"])
            shutil.rmtree(cycle_dir, ignore_errors=True)
            attempted += c["r1"].manifests_created
            failed += c["r1"].manifests_failed
            problems += found
            latencies += lat
            cycles.append(c)
        mb = dz["input_bytes"] / 2**20
        return {
            "latencies": latencies,
            "work": [c["first_s"] + c["redelivery_s"] for c in cycles],
            "attempted": attempted,
            "failed": failed,
            "problems": problems,
            "cycles": cycles,
            "detail": {
                "pipeline_mb_per_s": (statistics.median(mb / c["first_s"] for c in cycles), "MB/s"),
                "pipeline_redelivery_s": (statistics.median(c["redelivery_s"] for c in cycles), "s"),
                "pipeline_cycles": (len(cycles), "count"),
                "pipeline_input_mb": (mb, "MB"),
            },
        }

    def layer_metrics(self, tracer, m: dict, dz: dict) -> dict:
        per_cycle: dict[str, list[float]] = {}

        def put(name, value):
            per_cycle.setdefault(name, []).append(value)

        def total(name, within):
            return sum(s["end"] - s["start"] for s in tracer.named(name, within))

        for c in m["cycles"]:
            first, again = c["spans"]
            run = tracer.named("pipeline.run", first)[0]
            for name in ("state.track", "state.claim", "state.flip", "state.manifest",
                         "ingest.process", "sources.infer", "sources.size_sample",
                         "sources.write", "sources.report"):
                put(f"{name}_s", total(name, first))
            put("state.track_redelivery_s", total("state.track", again))
            put("pipeline.self_s", tracer.self_time(run))
            jobs = len(tracer.jobs_under(run))
            put("pipeline.jobs", jobs)
            put("pipeline.jobs_per_manifest", jobs / max(c["r1"].manifests_created, 1))
            put("sources.output_bytes_per_input_byte", c["output_bytes"] / dz["input_bytes"])
        return {k: statistics.median(v) for k, v in per_cycle.items()}
