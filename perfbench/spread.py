"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload search --seeds 1-10 [--seconds 12]

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its median and the distance between its first and
third quartiles (``statistics.quantiles(values, n=4)``) as a share of
the median, next to the metric's bound from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.monotonic()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        ).stdout.strip().splitlines()
        result = json.loads(out[-1])
        print(f"seed {seed}: {time.monotonic() - t0:.0f} s, correct={result['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"{name}: median {med:.4g}, spread {(q3 - q1) / med:.3f} (bound {bounds.get(name)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
