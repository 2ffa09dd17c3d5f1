"""Fleet-wide plan audit: the anti-patterns this repo bans in EVERY
registered query's physical plan at sf0.001.  The audit runs per query
in test_queries_contract.py::test_query_runs_at_smoke_sf, on the same
build that is then counted, so the registry is built once per suite:

- ``CartesianProduct``   — an unbroadcast cross join; every intentional
  one-row/model cross join must broadcast (BroadcastNestedLoopJoin).
- ``BatchEvalPython``    — a row-at-a-time Python UDF on any path.
- ``ArrowEvalPython``    — a scalar pandas_udf; the only sanctioned
  Python-in-the-loop stages are Arrow-batched mapInPandas /
  applyInPandasWithState (MapInPandas / FlatMapGroupsInPandas nodes),
  which are allowed.

- **single-task windows over unaggregated data** — an empty-partition-
  spec window (``Window`` → ``Sort`` → ``Exchange SinglePartition``)
  whose input subtree contains no aggregation, no
  ``TakeOrderedAndProject``, and no checkpointed frame: the r7
  scale-killer shape, where every scored row funnels through ONE task.
  Post-aggregation global windows (|days|/|bins|-sized frames) remain
  the documented accepted exception — their exchange subtree contains
  the Aggregate (or the localCheckpoint barrier that pinned it).

Per-query pins live in test_plans.py; this is the backstop that new
queries cannot skip.  Here: the banned names and the window detector,
with a check that the detector is not vacuous."""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE as SF

FORBIDDEN = ("CartesianProduct", "BatchEvalPython", "ArrowEvalPython")

# Tokens that legitimize a SinglePartition window input: the frame was
# aggregated first (Hash/Sort/ObjectHashAggregate), already reduced to
# k rows (TakeOrderedAndProject), pinned by localCheckpoint (Scan
# ExistingRDD / LogicalRDD — only post-agg frames are checkpointed in
# this repo), or is a reuse of such an exchange.
_TINY_INPUT = (
    "Aggregate",
    "TakeOrderedAndProject",
    "Scan ExistingRDD",
    "LogicalRDD",
    "ReusedExchange",
)


def _indent(line: str) -> int:
    return re.match(r"^[ :|+-]*", line).end()


def single_task_window_violations(plan: str) -> list[str]:
    """Every ``Exchange SinglePartition`` feeding a Sort under a Window
    must have an aggregation (or equivalent row-count collapse) in its
    input subtree."""
    lines = plan.splitlines()
    bad: list[str] = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        ind = _indent(ln)
        # climb the parent chain (nearest preceding shallower lines)
        parents: list[str] = []
        cur = ind
        for j in range(i - 1, -1, -1):
            pind = _indent(lines[j])
            if pind < cur:
                parents.append(lines[j])
                cur = pind
            if len(parents) >= 3:
                break
        if not (parents and "Sort" in parents[0]):
            continue
        if not any("Window" in p for p in parents[1:3]):
            continue
        # the exchange's input subtree: following deeper-indented lines
        sub: list[str] = []
        for k in range(i + 1, len(lines)):
            if _indent(lines[k]) <= ind:
                break
            sub.append(lines[k])
        subtxt = "\n".join(sub)
        if not any(tok in subtxt for tok in _TINY_INPUT):
            bad.append("\n".join(parents[1::-1] + [ln] + sub[:2]))
    return bad


def test_single_task_window_detector_not_vacuous(spark):
    """The detector must FLAG the r7 anti-pattern when shown one (a
    global rank window directly over a raw scan) and must ACCEPT the
    documented post-aggregation exception."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    raw = spark.read.parquet(f"{SF}/events.parquet")
    bad = raw.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("value")))
    )
    bad_plan = bad._jdf.queryExecution().executedPlan().toString()
    assert single_task_window_violations(bad_plan), bad_plan

    tiny = raw.groupBy("event_type").agg(F.count("*").alias("n"))
    ok = tiny.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("n")))
    )
    ok_plan = ok._jdf.queryExecution().executedPlan().toString()
    assert not single_task_window_violations(ok_plan), ok_plan
