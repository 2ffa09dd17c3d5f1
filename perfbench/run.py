"""Benchmark of the ETL engine: batch pipeline, stream ingest, query mix.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads (``--workload all`` runs the
three in turn and prints their headline metrics by name):

- ``pipeline_batch`` — ``PipelineRunner.run`` over a seeded NDJSON drop
  zone, then a redelivery of the same listing (``pipeline_batch.py``);
- ``stream_ingest`` — open-loop file arrivals drained by
  ``start_ingest_stream`` (``stream_ingest.py``);
- ``query_mix`` — one closed-loop client over the report, short and
  iterative registry queries (``query_mix.py``).

The engine runs on ``local[4]`` in this process.  Set-up starts the
Spark session and generates the inputs three times (the first start
launches the JVM, later ones restart the context in it); ``setup_s`` is
the median of those plus one untimed-for-results warm-up.  The workload
then runs for ``--seconds`` (whole cycles, files or passes), its outputs
are checked, and the last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones, the same names on every workload:

- ``latency_p50_s``/``latency_p90_s`` — per operation, from when it was
  due to when its result was committed (a file's manifest flip, a file's
  micro-batch commit, a query's collected result);
- ``work_s`` — engine time for one pass over the workload's input (a
  first run plus its redelivery; the summed micro-batch trigger time;
  the summed per-query medians of the mix);
- ``peak_rss_mb`` — the driver JVM's ``VmHWM``;
- ``setup_s``.

With ``--trace 1`` the workload runs first with spans around the
engine's public functions (``trace.py``), then untraced on fresh inputs;
the metrics are the per-layer ones of the traced run plus
``trace.overhead_s`` (its ``work_s`` minus the untraced run's).  Layers
a workload bypasses report 0.  Spans are written to
``.perfbench/spans/``.  The line before the result carries the
workload's own metric names (``pipeline_mb_per_s``, ``failed_ratio``,
...) and the problems the checks found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3

END_TO_END = {
    "latency_p50_s": "s", "latency_p90_s": "s", "work_s": "s",
    "peak_rss_mb": "MB", "setup_s": "s",
}


def _percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else float("nan")


class Session:
    """The Spark session and the JVM behind it, owned by one run."""

    def __init__(self, ui: bool):
        self.spark = None
        self.ui = ui  # the traced run reads job and stage stats from the UI

    def start(self):
        """(Re)start the session: the first call launches the JVM, a
        later one stops the context and starts a new one in it."""
        from high_throughput_etl_pipeline_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = get_spark(
            "perfbench", master="local[4]", shuffle_partitions=4,
            extra_conf={
                "spark.driver.memory": "2g",
                # a heap fixed at its maximum keeps peak RSS from
                # swinging with when G1 decides to grow the heap
                "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp}",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.ui.enabled": str(self.ui).lower(),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "5000",
                "spark.ui.retainedStages": "10000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM for the driver JVM")

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None


def _workloads() -> dict:
    from perfbench.pipeline_batch import PipelineBatch
    from perfbench.query_mix import QueryMix
    from perfbench.stream_ingest import StreamIngest

    return {w.name: w for w in (PipelineBatch(), StreamIngest(), QueryMix())}


def run_workload(wl, session: Session, seed: int, seconds: int, trace: bool) -> dict:
    work = os.path.join(WORK, wl.name)
    shutil.rmtree(work, ignore_errors=True)

    reps = []
    for k in range(SETUP_REPS):
        t = time.perf_counter()
        spark = session.start()
        inputs = wl.generate(os.path.join(work, f"input{k}"), seed, seconds)
        reps.append(time.perf_counter() - t)
        if k:
            shutil.rmtree(os.path.join(work, f"input{k - 1}"))
    t = time.perf_counter()
    wl.warm_up(spark, os.path.join(work, "warm"), seed)
    warm_s = time.perf_counter() - t
    setup_s = statistics.median(reps) + warm_s

    layers, tracer, mt = None, None, None
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark, f"{wl.name}-{seed}")
        wl.instrument(tracer)
        try:
            mt = wl.measure(spark, inputs, seconds, tracer, os.path.join(work, "run_traced"))
        finally:
            tracer.restore()
        layers = wl.layer_metrics(tracer, mt, inputs)
        inputs = wl.generate(os.path.join(work, "input_untraced"), seed, seconds)

    m = wl.measure(spark, inputs, seconds, None, os.path.join(work, "run"))
    rss = session.peak_rss_mb()
    work_s = statistics.median(m["work"])
    metrics = {
        "latency_p50_s": _percentile(m["latencies"], 50),
        "latency_p90_s": _percentile(m["latencies"], 90),
        "work_s": work_s,
        "peak_rss_mb": rss,
        "setup_s": setup_s,
    }
    detail = {k: {"value": v, "unit": u} for k, (v, u) in m["detail"].items()}
    for k, alias in wl.aliases.items():
        detail[alias] = {"value": metrics[k], "unit": END_TO_END[k]}
    detail["failed_ratio"] = {"value": m["failed"] / max(m["attempted"], 1), "unit": "ratio"}
    detail["latency_samples"] = {"value": len(m["latencies"]), "unit": "count"}
    detail["warm_up_s"] = {"value": warm_s, "unit": "s"}
    problems = list(m["problems"])
    attempted, failed = m["attempted"], m["failed"]

    if trace:
        # the untraced run comes after the traced one and is the warmer
        # of the two, so this overhead is an upper bound
        layers["trace.overhead_s"] = statistics.median(mt["work"]) - work_s
        detail["trace.overhead_share"] = {
            "value": layers["trace.overhead_s"] / work_s, "unit": "ratio"}
        detail["layer_self_s"] = {"value": tracer.layer_self_times(), "unit": "s"}
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{wl.name}-seed{seed}.jsonl"))
        problems += mt["problems"]
        attempted += mt["attempted"]
        failed += mt["failed"]

    shutil.rmtree(work, ignore_errors=True)
    return {"metrics": metrics, "layers": layers, "detail": detail,
            "problems": problems, "attempted": attempted, "failed": failed}


# detail metrics every workload reports (prefixed with the workload in
# ``--workload all``)
COMMON_DETAIL = ("failed_ratio", "latency_samples", "warm_up_s", "trace.overhead_share")


def per_layer_names() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import high_throughput_etl_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable: {exc}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    workloads = _workloads()
    names = list(workloads) if args.workload == "all" else [args.workload]
    if any(n not in workloads for n in names):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    layer_units = per_layer_names() if args.trace else {}

    session = Session(ui=bool(args.trace))
    results = {}
    try:
        for n in names:
            results[n] = run_workload(workloads[n], session, args.seed, args.seconds,
                                      bool(args.trace))
    finally:
        session.close()
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    for n, r in results.items():
        print(json.dumps({"workload": n, "seed": args.seed, "detail": r["detail"],
                          "problems": r["problems"][:20]}))
    attempted = sum(r["attempted"] for r in results.values())
    failed = sum(r["failed"] for r in results.values())
    correct = not any(r["problems"] for r in results.values())
    if args.workload == "all":
        # each workload's own metrics by name; the ones every workload
        # has are prefixed with the workload
        metrics = {}
        for n, r in results.items():
            for k in ("setup_s", "peak_rss_mb"):
                metrics[f"{n}.{k}"] = {"value": r["metrics"][k], "unit": END_TO_END[k]}
            for k, v in r["detail"].items():
                if isinstance(v["value"], dict):
                    continue
                metrics[f"{n}.{k}" if k in COMMON_DETAIL else k] = v
            for k, v in (r["layers"] or {}).items():
                if k.startswith(workloads[n].layers) or k == "trace.overhead_s":
                    metrics[f"{n}.{k}" if k == "trace.overhead_s" else k] = {
                        "value": v, "unit": layer_units[k]}
    elif args.trace:
        layers = results[names[0]]["layers"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in results[names[0]]["metrics"].items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
