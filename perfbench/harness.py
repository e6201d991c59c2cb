"""Timing, per-class records and machine stamps of one benchmark run."""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections import defaultdict

from sparktrace import PER_CALL

CLASSES = ("build", "bool", "expand", "rank", "append", "compact", "dedup")
PLANNED = ("bool", "expand", "rank")


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    return {"pct": round(100 * (n - 10) / n, 1), "value": sorted(values)[n - 11], "n": n}


class Recorder:
    """Times calls, optionally under the tracer, and keeps them by class.

    Each call gets its wall time and the CPU time the whole engine spent
    on it (``tree_cpu_s``: this process, the JVM, the Python workers),
    read just outside the wall window. ``timed_s`` sums the wall of
    timed calls only, so the tracer's own reading between calls never
    counts.
    """

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.cpus: dict[str, list[float]] = defaultdict(list)
        self.costs: dict[str, list[dict]] = defaultdict(list)
        self.plan: dict[str, list[tuple[float, int]]] = defaultdict(list)
        self.timed_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _span(self, cls: str, fn):
        if self.tracer is not None:
            # CPU read inside the call, so the tracer's own reading after
            # it does not count
            cpus = []

            def measured():
                cpu0 = tree_cpu_s()
                try:
                    return fn()
                finally:
                    cpus.append(tree_cpu_s() - cpu0)

            out, wall, cost = self.tracer.call(cls, measured)
            cpu = cpus[0]
        else:
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            out = fn()
            wall, cost = time.perf_counter() - t0, None
            cpu = tree_cpu_s() - cpu0
        self.timed_s += wall
        return out, wall, cpu, cost

    def call(self, cls: str, fn):
        """One timed operation of ``cls``; returns (result, wall_s, cpu_s)."""
        out, wall, cpu, cost = self._span(cls, fn)
        self.walls[cls].append(wall)
        self.cpus[cls].append(cpu)
        if cost is not None:
            self.costs[cls].append(cost)
        return out, wall, cpu

    def query(self, cls: str, plan, run=lambda df: df.collect()):
        """A query: ``plan()`` builds the DataFrame (parse, expansion,
        driver metadata, gates), ``run`` collects it; both are timed.
        Returns (rows, wall_s, cpu_s)."""
        df, plan_wall, plan_cpu, plan_cost = self._span(cls, plan)
        rows, run_wall, run_cpu, run_cost = self._span(cls, lambda: run(df))
        wall, cpu = plan_wall + run_wall, plan_cpu + run_cpu
        self.walls[cls].append(wall)
        self.cpus[cls].append(cpu)
        if plan_cost is not None:
            self.costs[cls].append({k: plan_cost[k] + run_cost[k] for k in plan_cost})
            self.plan[cls].append((plan_wall, plan_cost["spark.jobs"]))
        return rows, wall, cpu

    def miss(self, what: str) -> None:
        """An operation whose output failed its check."""
        self.failed += 1
        self.errors.append(f"wrong output: {what}")
        print(self.errors[-1], file=sys.stderr)

    def class_latencies(self) -> dict:
        out = {}
        for cls, ws in self.walls.items():
            out[cls] = {
                "n": len(ws),
                "p50_s": statistics.median(ws),
                "tail": tail(ws),
                "cpu_p50_s": statistics.median(self.cpus[cls]),
            }
        return out

    def per_class_metrics(self) -> dict[str, tuple[float, str]]:
        """``<class>.<metric>`` per-call means, with their units."""
        out: dict[str, tuple[float, str]] = {}
        for cls in CLASSES:
            ws, costs = self.walls.get(cls, []), self.costs.get(cls, [])
            out[f"{cls}.calls"] = (len(ws), "count")
            out[f"{cls}.wall_p50_s"] = (statistics.median(ws) if ws else 0.0, "s")
            cpus = self.cpus.get(cls, [])
            out[f"{cls}.cpu_p50_s"] = (statistics.median(cpus) if cpus else 0.0, "s")
            for name, unit in PER_CALL:
                vals = [c[name] for c in costs]
                out[f"{cls}.{name}"] = (sum(vals) / len(vals) if vals else 0.0, unit)
        for cls in PLANNED:
            ps = self.plan.get(cls, [])
            out[f"{cls}.planner.plan_s"] = (sum(p[0] for p in ps) / len(ps) if ps else 0.0, "s")
            out[f"{cls}.planner.plan_jobs"] = (sum(p[1] for p in ps) / len(ps) if ps else 0.0, "count")
        return out


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def storage_metrics(root: str, segments: list[str], text_bytes: int) -> dict[str, tuple[float, str]]:
    """On-disk bytes of an index's tables, summed over its committed
    ``segments`` (compaction leaves the superseded ones on disk)."""
    out = {}
    total_bytes = total_files = 0
    for table in ("blocks", "dictionary", "doc_stats", "docs"):
        b = f = 0
        for seg in segments:
            p = os.path.join(root, seg, table)
            if os.path.isdir(p):
                sb, sf = dir_bytes(p)
                b, f = b + sb, f + sf
        out[f"storage.{table}_bytes"] = (b, "B")
        total_bytes, total_files = total_bytes + b, total_files + f
    out["storage.files"] = (total_files, "count")
    out["storage.bytes_per_text_byte"] = (total_bytes / text_bytes if segments else 0.0, "ratio")
    return out


# --- machine stamps -------------------------------------------------------


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.extend(children[p])
        todo.extend(children[p])
    return out


def process_tree() -> list[int]:
    """This process and every process it started (the JVM, Python workers)."""
    return [os.getpid(), *_descendants(os.getpid())]


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User and system CPU seconds of the process tree so far. The kernel
    leaves out time the hypervisor stole, so on a shared host this
    counts the engine's own work, not its neighbours'."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total * _TICK_S


def peak_rss_mb() -> float:
    """Summed peak resident memory (VmHWM) of the process tree."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_stamp() -> dict:
    """Load average and cumulative CPU jiffies (total, steal)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "jiffies": sum(cpu), "steal": cpu[7] if len(cpu) > 7 else 0}


def steal_frac(before: dict, after: dict) -> float:
    dt = after["jiffies"] - before["jiffies"]
    return (after["steal"] - before["steal"]) / dt if dt else 0.0
