"""Per-call Spark cost, read from outside the program.

A traced run enables the Spark UI on localhost and, after every timed
call, reads the application's own status store through its REST API:
the call's jobs, their stages (run time, input bytes, shuffle writes,
submit and completion times) and its SQL executions (the Python-worker
metrics of Arrow/pandas UDF nodes).

Jobs are attributed by id window, not only by job group: the call runs
under its own ``setJobGroup`` tag, but ``build_index`` submits its
output writes from pool threads, which do not inherit the tag. Calls
run one at a time, so every job and SQL execution created between the
start and the end of a call belongs to it; the window is read right
after the call, well within the status store's retention limits.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from datetime import datetime, timezone

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_SETTLE_S = 0.02
_WAIT_S = 10.0


def _metric_total(value: str) -> float:
    """``'total (min, med, max ...)\\n11.1 s (...)'`` or ``'33 ms'`` -> SI."""
    num, unit = value.split("\n")[-1].split(" (")[0].split()
    return float(num.replace(",", "")) * _UNITS[unit]


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    """Times calls and attributes their Spark jobs, stages and SQL nodes."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.next_job = 0
        self.next_sql = 0
        self.overhead_s = 0.0
        self.failed_tasks = 0
        self.calls = 0

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(self.base + path, timeout=_WAIT_S) as r:
                return json.load(r)
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise

    def _settled(self, path: str):
        """The entry at ``path`` once it is no longer running."""
        deadline = time.monotonic() + _WAIT_S
        entry = self._get(path)
        while entry is not None and entry["status"] == "RUNNING" and time.monotonic() < deadline:
            time.sleep(0.02)
            entry = self._get(path)
        return entry

    def _new_entries(self, kind: str) -> list[dict]:
        """Every job (``kind='jobs'``) or SQL execution created since the
        last read, each waited on until it has finished."""
        attr = "next_job" if kind == "jobs" else "next_sql"
        suffix = "" if kind == "jobs" else "?details=true"
        out = []
        while True:
            entry = self._settled(f"/{kind}/{getattr(self, attr)}{suffix}")
            if entry is None:
                return out
            out.append(entry)
            setattr(self, attr, getattr(self, attr) + 1)

    def skip(self) -> None:
        """Forget work done outside traced calls (checks, stats probes)."""
        t0 = time.perf_counter()
        self._new_entries("jobs")
        self._new_entries("sql")
        self.overhead_s += time.perf_counter() - t0

    def call(self, name: str, fn):
        """Run ``fn`` under its own job group; return (result, wall_s, cost)."""
        self.skip()
        self.calls += 1
        tag = f"perfbench-{name}-{self.calls}"
        self.sc.setJobGroup(tag, tag)
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            self.sc.setJobGroup(None, None)
        r0 = time.perf_counter()
        cost = self._cost(t0, t1)
        self.overhead_s += time.perf_counter() - r0
        return out, t1 - t0, cost

    def _cost(self, t0: float, t1: float) -> dict[str, float]:
        time.sleep(_SETTLE_S)  # let the listener bus post the call's last events
        jobs = self._new_entries("jobs")
        stages, intervals = {}, []
        for job in jobs:
            for sid in job.get("stageIds", []):
                for att in self._get(f"/stages/{sid}?details=false") or []:
                    if att["status"] != "SKIPPED":
                        stages[(att["stageId"], att["attemptId"])] = att
        for st in stages.values():
            if st.get("submissionTime") and st.get("completionTime"):
                a, b = _epoch(st["submissionTime"]), _epoch(st["completionTime"])
                intervals.append((max(a, t0), min(b, t1)))
        python_s = python_in = 0.0
        for ex in self._new_entries("sql"):
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "time to run Python workers":
                        python_s += _metric_total(m["value"])
                    elif m["name"] == "data sent to Python workers":
                        python_in += _metric_total(m["value"])
        failed = sum(s["numFailedTasks"] for s in stages.values())
        self.failed_tasks += failed
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numTasks"] for s in stages.values()),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages.values()) / 1e3,
            "spark.driver_s": max(0.0, (t1 - t0) - _union_s([i for i in intervals if i[1] > i[0]])),
            "scan.bytes": sum(s["inputBytes"] for s in stages.values()),
            "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in stages.values()),
            "udf.python_s": python_s,
            "udf.bytes_in": python_in,
        }


PER_CALL = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.driver_s", "s"),
    ("scan.bytes", "B"),
    ("shuffle.write_bytes", "B"),
    ("udf.python_s", "s"),
    ("udf.bytes_in", "B"),
)
