"""``query_mix``: one closed-loop client over three groups of queries.

- the six Athena report queries (``plans/analytics.py``) over
  ``register_report_views`` of seeded report JSON;
- short registry queries, whose build time is mostly table resolution
  (``queries._t`` schema inference);
- iterative graph queries, whose build runs driver-side loops of Spark
  jobs.

The tables are generated in the shapes of the engine's sf0.01 test data
(query time here is set by per-query and per-job overhead, not by data
size); the whole mix is warmed once, untimed, on a copy a tenth that
size.  Whole passes over the mix run until the run's time is up; an
operation is one query, timed from the call that builds it to its
collected result.
Every registry result is checked against its ``ORACLES`` SQL on DuckDB
(untimed, after the passes) and every report result against values
computed from the generated reports.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time
from contextlib import nullcontext

from perfbench import gen

# four TPC-H, three events/user and three ETL-semantics queries; the
# others of the engine's groups are left out to fit the time budget
SHORT = [
    "q1_pricing_summary", "q3_top_revenue_orders", "q5_region_revenue",
    "q18_large_orders",
    "events_daily_rollup", "user_sessions", "user_funnel_conversion",
    "status_shard_roundtrip", "s3_path_parse", "union_report_sources",
]
# one graph loop that runs ~25 Spark jobs inside its build, re-joining
# its whole distance table every round.  More would not fit the
# benchmark's time budget.
ITERATIVE = ["supplier_part_sssp"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _digest(rows, columns) -> str:
    from tools.check_correctness import normalize

    body = "\x02".join([*sorted(columns), *normalize(rows, columns)])
    return hashlib.sha1(body.encode()).hexdigest()


# -- expected report-query results ------------------------------------------

def expected_reports(lam: list[dict], glue: list[dict]) -> dict[str, list[tuple]]:
    """What each report query must return for the generated reports, as
    rows in the query's column order (the order itself is not checked)."""
    def day(r):
        return r["execution_metrics"]["start_time"][:10]

    days = sorted({day(r) for r in lam})
    by_day = {d: [r for r in lam if day(r) == d] for d in days}
    ps = lambda r: r["processing_summary"]  # noqa: E731
    em = lambda r: r["execution_metrics"]  # noqa: E731
    out = {
        "daily_summary": [
            (d, len(rs), sum(ps(r)["files_processed"] for r in rs),
             sum(ps(r)["manifests_created"] for r in rs),
             sum(ps(r)["files_quarantined"] for r in rs),
             sum(ps(r)["errors_count"] for r in rs))
            for d, rs in by_day.items()],
        "failed_executions": [
            (r["report_id"], em(r)["start_time"], ps(r)["status"], ps(r)["errors_count"],
             r["errors"])
            for r in lam if ps(r)["errors_count"] > 0],
        "duration_stats": [
            (d, statistics.fmean(em(r)["duration_seconds"] for r in rs),
             max(em(r)["duration_seconds"] for r in rs),
             statistics.fmean(em(r)["remaining_time_ms"] / 1000.0 for r in rs))
            for d, rs in by_day.items()],
        "glue_performance": [
            (g["report_id"], g["job_info"]["start_time"], g["job_info"]["duration_seconds"],
             ps(g)["records_processed"], ps(g)["parquet_files_created"], ps(g)["status"])
            for g in glue],
        "glue_failures": [
            (g["report_id"], g["job_info"]["start_time"], ps(g)["status"], g["error_message"])
            for g in glue if ps(g)["status"] != "success"],
    }
    glue_by_manifest: dict[str, list[dict]] = {}
    for g in glue:
        glue_by_manifest.setdefault(ps(g)["manifest_processed"], []).append(g)
    out["correlation"] = [
        (r["report_id"], g["report_id"], m, em(r)["start_time"], g["job_info"]["start_time"],
         ps(g)["records_processed"], ps(g)["status"])
        for r in lam for m in r["manifests"] for g in glue_by_manifest.get(m, [])]
    return out


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row match; floats agree to the queries' 2-dp rounding."""
    def same(a, b):
        if isinstance(a, float) or isinstance(b, float):
            return a is not None and b is not None and math.isclose(a, b, abs_tol=0.0051)
        return (list(a) if isinstance(a, (list, tuple)) else a) == (
            list(b) if isinstance(b, (list, tuple)) else b)

    key = lambda r: tuple(str(v) for v in r if not isinstance(v, float))  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(same(a, b) for a, b in zip(g, w))
        for g, w in zip(got, want))


# -- the workload -------------------------------------------------------------

class QueryMix:
    name = "query_mix"
    aliases = {"latency_p50_s": "query_p50_s", "work_s": "query_total_s"}
    layers = ("queries.", "plans.")

    def generate(self, data_dir: str, seed: int, seconds: int, scale: float = 1.0) -> dict:
        tables = os.path.join(data_dir, "tables")
        gen.tables(tables, seed, scale)
        return {"tables": tables, "reports": gen.reports(os.path.join(data_dir, "reports"), seed)}

    def instrument(self, tracer) -> None:
        from high_throughput_etl_pipeline_spark import queries
        from high_throughput_etl_pipeline_spark.plans import analytics

        tracer.wrap(queries, "_t", "queries.resolve")
        tracer.wrap(analytics, "run", "plans.report.build")

    def _mix(self):
        from high_throughput_etl_pipeline_spark.plans import analytics

        return ([("report", n) for n in analytics.QUERIES]
                + [("short", n) for n in SHORT] + [("iterative", n) for n in ITERATIVE])

    def _pass(self, spark, inputs: dict, tracer) -> list[dict]:
        from high_throughput_etl_pipeline_spark.plans import analytics
        from high_throughput_etl_pipeline_spark.queries import QUERIES
        from high_throughput_etl_pipeline_spark.sources.reports import register_report_views

        def span(name, **attrs):
            return tracer.span(name, **attrs) if tracer else nullcontext({})

        rep = inputs["reports"]
        register_report_views(spark, rep["lambda_dir"], rep["glue_dir"])
        execs = []
        for tier, name in self._mix():
            layer = "plans.report" if tier == "report" else "queries"
            e = {"name": name, "tier": tier, "error": None}
            with span("bench.query", query=name, tier=tier) as top:
                t0 = time.time()
                try:
                    if tier == "report":
                        df = analytics.run(spark, name)
                    else:
                        with span("queries.build"):
                            df = QUERIES[name](spark, inputs["tables"])
                    t1 = time.time()
                    with span(f"{layer}.exec"):
                        rows = [tuple(r) for r in df.collect()]
                    t2 = time.time()
                except Exception as exc:  # a failed query is counted, not fatal
                    e["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                    t1 = t2 = time.time()
                    rows = []
            e.update(wall=t2 - t0, build=t1 - t0, exec=t2 - t1, span=top)
            if e["error"] is None:
                if tier == "report":
                    e["rows"] = rows
                else:
                    e["digest"] = _digest(rows, df.columns)
            execs.append(e)
        return execs

    def warm_up(self, spark, work: str, seed: int) -> None:
        # the whole mix, so no query meets its cold start in the timed pass
        inputs = self.generate(work, seed + 1, 0, scale=0.1)
        bad = [e for e in self._pass(spark, inputs, None) if e["error"]]
        if bad:
            raise RuntimeError(f"query warm-up failed: {bad[0]['name']}: {bad[0]['error']}")

    def _check(self, inputs: dict, execs: list[dict]) -> list[str]:
        import duckdb

        from high_throughput_etl_pipeline_spark.queries import ORACLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(inputs['tables'], t)}.parquet'")
        rep = inputs["reports"]
        want_reports = expected_reports(rep["lambda"], rep["glue"])
        oracle: dict[str, str] = {}
        problems = []
        for e in execs:
            problem = None
            if e["error"]:
                problem = e["error"]
            elif e["tier"] == "report":
                if not _same_rows(e["rows"], want_reports[e["name"]]):
                    problem = "report rows differ from the generated reports"
            else:
                if e["name"] not in oracle:
                    res = con.execute(ORACLES[e["name"]])
                    oracle[e["name"]] = _digest(res.fetchall(), [d[0] for d in res.description])
                if e["digest"] != oracle[e["name"]]:
                    problem = "result differs from its DuckDB oracle"
            e["ok"] = problem is None
            if problem:
                problems.append(f"{e['name']}: {problem}")
        con.close()
        return problems

    def measure(self, spark, inputs: dict, seconds: float, tracer, work: str) -> dict:
        # whole passes that fit in the run's time, at least one
        deadline = time.time() + seconds
        passes: list[list[dict]] = []
        while not passes or time.time() + sum(e["wall"] for e in passes[-1]) < deadline:
            passes.append(self._pass(spark, inputs, tracer))
        execs = [e for p in passes for e in p]
        problems = self._check(inputs, execs)
        walls: dict[str, list[float]] = {}
        for e in execs:
            walls.setdefault(e["name"], []).append(e["wall"])
        return {
            "latencies": [e["wall"] for e in execs],
            "work": [sum(statistics.median(w) for w in walls.values())],
            "attempted": len(execs),
            "failed": sum(not e["ok"] for e in execs),
            "problems": problems,
            "passes": passes,
            "detail": {"query_passes": (len(passes), "count"),
                       "query_count": (len(walls), "count")},
        }

    def layer_metrics(self, tracer, m: dict, inputs: dict) -> dict:
        from perfbench.trace import busy_time, job_stats

        jobs = job_stats(tracer.sc)
        per_pass: dict[str, list[float]] = {}
        for p in m["passes"]:
            v: dict[str, float] = {}

            def add(k, x):
                v[k] = v.get(k, 0.0) + x

            for e in p:
                top = e["span"]
                ids = tracer.jobs_under(top)
                if e["tier"] == "report":
                    add("plans.report.exec_s", e["exec"])
                    continue
                resolves = tracer.named("queries.resolve", top)
                add("queries.resolve_s", sum(s["end"] - s["start"] for s in resolves))
                add("queries.resolve_calls", len(resolves))
                add("queries.resolve_jobs", sum(len(s["jobs"]) for s in resolves))
                add(f"queries.{e['tier']}.build_s", e["build"])
                add(f"queries.{e['tier']}.exec_s", e["exec"])
                add(f"queries.{e['tier']}.jobs", len(ids))
                known = [jobs[j] for j in ids if j in jobs]
                add("queries.shuffle_bytes", sum(j["shuffle"] for j in known))
                add("queries.spill_bytes", sum(j["spill"] for j in known))
                add("queries.driver_gap_s",
                    e["wall"] - busy_time([(j["start"], j["end"]) for j in known]))
            for k, x in v.items():
                per_pass.setdefault(k, []).append(x)
        return {k: statistics.median(x) for k, x in per_pass.items()}
