"""Spans around the engine's public functions, recorded from outside.

:class:`Tracer` replaces chosen functions and methods with wrappers that
open one span per call: name, start, end, parent span and run id.  Each
span sets its own Spark job group, so the jobs a span launched come from
``statusTracker().getJobIdsForGroup`` when it closes.  Spans stay in
memory; :meth:`Tracer.dump` writes them out once the run is over, and
:meth:`Tracer.restore` puts the original functions back.

Job times, shuffle and spill bytes are read after the run from the Spark
UI's REST API (the same source ``tools/profile_query.py`` uses).
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "jobs": [], **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self._group(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["jobs"] = list(self.sc.statusTracker().getJobIdsForGroup(self._group(sid)))
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(self._group(parent), self.spans[parent]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span observed elsewhere (e.g. a streaming micro-batch)."""
        self.spans.append({"id": len(self.spans), "name": name, "run": self.run_id,
                           "parent": parent, "start": start, "end": end,
                           "jobs": [], **attrs})

    def wrap(self, owner, attr: str, name: str) -> None:
        """Route calls of ``owner.attr`` (module function or class method)
        through a span named ``name``."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- reading the trace ----------------------------------------------

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        """Spans called ``name``, optionally only those under ``within``."""
        out = [s for s in self.spans if s["name"] == name]
        if within is not None:
            out = [s for s in out if self.is_under(s, within)]
        return out

    def is_under(self, span: dict, ancestor: dict) -> bool:
        p = span["parent"]
        while p is not None:
            if p == ancestor["id"]:
                return True
            p = self.spans[p]["parent"]
        return False

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it the child spans cover."""
        covered, last = 0.0, span["start"]
        for c in sorted(self.children(span), key=lambda s: s["start"]):
            lo, hi = max(c["start"], last), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        return (span["end"] - span["start"]) - covered

    def jobs_under(self, span: dict) -> list[int]:
        """Jobs launched by ``span`` and every span below it."""
        ids = list(span["jobs"])
        for s in self.spans:
            if self.is_under(s, span):
                ids.extend(s["jobs"])
        return ids

    def layer_self_times(self) -> dict[str, float]:
        """Self time summed per layer (the span name's first segment)."""
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + self.self_time(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _epoch(stamp: str) -> float:
    # the REST API writes e.g. 2026-10-16T18:00:00.123GMT
    return datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def job_stats(sc) -> dict[int, dict]:
    """job id → submit/complete epoch seconds, shuffle and spill bytes,
    for every job the SparkContext ``sc`` still retains."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    stages = {}
    for s in _get(f"{base}/stages"):
        acc = stages.setdefault(s["stageId"], {"shuffle": 0, "spill": 0})
        acc["shuffle"] += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
        acc["spill"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
    out = {}
    for j in _get(f"{base}/jobs"):
        if "submissionTime" not in j or "completionTime" not in j:
            continue
        ids = j.get("stageIds", [])
        out[j["jobId"]] = {
            "start": _epoch(j["submissionTime"]),
            "end": _epoch(j["completionTime"]),
            "shuffle": sum(stages.get(i, {}).get("shuffle", 0) for i in ids),
            "spill": sum(stages.get(i, {}).get("spill", 0) for i in ids),
        }
    return out


def busy_time(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, last = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, last)
        if hi > lo:
            total += hi - lo
            last = hi
    return total
