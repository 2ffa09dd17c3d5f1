"""Per-job profile of one registered query (guide §1 empirical loop).

    python tools/profile_query.py <query_name> [sf_dir]

Runs the query once untimed at sf0.001 (codegen warm-up), once timed at
``sf_dir`` (default sf0.1), then prints every Spark job the timed run
launched with its wall time and its shuffle and spill bytes, read from
the live UI REST API by ``perfbench.trace.job_stats``.  Ends with a JSON
summary line; its driver gap is wall time minus the time at least one
job was running (overlapping jobs counted once).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from high_throughput_etl_pipeline_spark.queries import QUERIES
from high_throughput_etl_pipeline_spark.session import get_spark
from perfbench.trace import busy_time, job_stats


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("profile-query")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    fn = QUERIES[name]
    try:
        fn(spark, "/root/testdata/sf0.001").count()  # warm codegen
    except Exception as exc:
        print(f"# warm-up failed: {exc}", file=sys.stderr)

    jobs_before = set(job_stats(sc))
    sc.setJobDescription(f"profile:{name}")
    t0 = time.time()
    n = fn(spark, sf_dir).count()
    wall = time.time() - t0
    sc.setJobDescription(None)

    jobs = {i: j for i, j in sorted(job_stats(sc).items()) if i not in jobs_before}
    for i, j in jobs.items():
        print(
            f"job {i:>4}  {j['end'] - j['start']:7.3f}s  "
            f"shuffle={j['shuffle'] / 1e6:8.2f}MB  spill={j['spill'] / 1e6:8.2f}MB"
        )
    spans = [(j["start"], j["end"]) for j in jobs.values()]
    print(
        json.dumps(
            {
                "query": name,
                "wall_sec": round(wall, 3),
                "rows": n,
                "n_jobs": len(jobs),
                "sum_job_sec": round(sum(hi - lo for lo, hi in spans), 3),
                "driver_gap_sec": round(wall - busy_time(spans), 3),
            }
        )
    )


if __name__ == "__main__":
    main()
