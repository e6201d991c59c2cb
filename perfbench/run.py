"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload {search,ingest} \\
        --seed N --seconds S --trace {0,1}

The session is local Spark sized to the machine's CPUs. Set-up makes
the inputs from the seed, prepares the program's state and warms it up
(``setup_s``); then the timed operations run, a fixed number of rounds
sized to take about ``S`` seconds at 4 CPUs (see workloads.py); then
every output is checked.

The next-to-last stdout line is the run's full record: machine stamps
(CPUs, load average and CPU steal before and after), input properties
and per-class latencies with their tail. The last line is the result:
``{"correct", "attempted", "failed", "metrics"}``, holding the
end-to-end metrics with ``--trace 0`` and the per-layer metrics, read
from Spark's status store, with ``--trace 1``. The record is also
written to ``perfbench-out/<workload>-<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("search", "ingest")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(name: str, trace: bool, work: str):
    from fulltextsearch_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a bounded heap: the machine's memory is shared
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
    }
    if trace:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    spark = get_spark(f"perfbench-{name}", cores=cpu_count(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    from harness import process_tree

    gateway = SparkContext._gateway
    children = process_tree()[1:]
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def run(args, work: str) -> tuple[dict, dict]:
    import workloads
    from harness import Recorder, cpu_stamp, peak_rss_mb, steal_frac
    from sparktrace import Tracer

    t0 = time.perf_counter()
    spark = start_spark(args.workload, bool(args.trace), work)
    try:
        rec = Recorder(Tracer(spark) if args.trace else None)
        sizes = (workloads.SMOKE_SIZES if args.smoke else workloads.SIZES)[args.workload]
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.seconds, rec, sizes)
        wl.setup()
        setup_s = time.perf_counter() - t0
        phases = {}
        t = time.perf_counter()
        wl.prepare_check()
        phases["prepare_check_s"] = time.perf_counter() - t
        rec.timed_s = 0.0
        before = cpu_stamp()
        t = time.perf_counter()
        wl.run()
        phases["run_s"] = time.perf_counter() - t
        after = cpu_stamp()
        rss_mb = peak_rss_mb()
        t = time.perf_counter()
        wl.check()
        phases["check_s"] = time.perf_counter() - t
        if args.trace:
            metrics = wl.layer_metrics()
            metrics["peak_rss_mb"] = (rss_mb, "MB")
        else:
            metrics = wl.end_to_end(setup_s)
    finally:
        stop_spark(spark)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "nproc": cpu_count(),
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "cpu_steal_frac": steal_frac(before, after),
        "setup_phases": wl.setup_phases,
        "run_phases": phases,
        "inputs": wl.props,
        "detail": wl.detail,
        "peak_rss_mb": rss_mb,
        "classes": rec.class_latencies(),
        "errors": rec.errors,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": record["metrics"],
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs for the self-test; figures not comparable")
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an error, so the finally blocks stop Spark
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  (the DuckDB oracles)
        import fulltextsearch_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(fulltextsearch_spark.__file__))) != ROOT:
        print(f"perfbench: the program must come from {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench-work", str(os.getpid()))
    os.makedirs(work)
    # the JVM and its Python workers inherit these: workers import the
    # program from the checkout, and Spark's scratch stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = work
    # no JVM writes its perf-counter file to the system's /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, "perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
