"""Spans around layer calls, Spark job-group counters, and timing summaries.

A span records (name, start, end, parent, op id).  While a span is open its
Spark jobs run under the span's own job group, so the driver's status
store can attribute jobs, stages, tasks, shuffle and spill to it.  Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import math
import time
import urllib.request
from contextlib import contextmanager


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (p in [0, 100])."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest percentile with at least ten
    samples beyond it; with fewer than 20 samples no percentile at or above
    the median qualifies, and the median is reported as the tail."""
    n = len(values)
    p = 50.0
    for cand in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (100.0 - cand) / 100.0 >= 10:
            p = cand
            break
    return p, percentile(values, p)


class Tracer:
    """Collects spans; with ``sc`` set, each span also owns a job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.phase = "setup"

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent":
               parent["id"] if parent else None,
               "op": op_id if op_id is not None else (parent or {}).get("op"),
               "phase": self.phase, "group": f"perfbench-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> None:
        """Fill ``dur`` and ``self`` (duration minus direct children)."""
        for s in self.spans:
            s["dur"] = s["end"] - s["start"]
            s["self"] = s["dur"]
        for s in self.spans:
            if s["parent"] is not None:
                self.spans[s["parent"]]["self"] -= s["dur"]

    def harvest_spark(self, spark) -> None:
        """Attach jobs/stages/tasks/shuffle/spill counts to every span from
        the status store behind the driver's UI (a localhost REST call)."""
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = _get_json(base + "/jobs")
        stages = {}
        for st in _get_json(base + "/stages"):
            if st.get("status") == "COMPLETE":
                stages.setdefault(st["stageId"], st)
        by_group: dict[str, dict] = {}
        for job in jobs:
            g = by_group.setdefault(job.get("jobGroup"), {"jobs": 0, "stages": set()})
            g["jobs"] += 1
            g["stages"].update(sid for sid in job.get("stageIds", [])
                               if sid in stages)
        for s in self.spans:
            g = by_group.get(s["group"], {"jobs": 0, "stages": set()})
            sts = [stages[i] for i in g["stages"]]
            s["spark"] = {
                "jobs": g["jobs"],
                "stages": len(sts),
                "tasks": sum(st.get("numCompleteTasks", 0) for st in sts),
                "shuffle_write_bytes": sum(st.get("shuffleWriteBytes", 0) for st in sts),
                "shuffle_read_bytes": sum(st.get("shuffleReadBytes", 0) for st in sts),
                "spill_bytes": sum(st.get("memoryBytesSpilled", 0)
                                   + st.get("diskBytesSpilled", 0) for st in sts),
            }

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)
