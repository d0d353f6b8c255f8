#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload lake_dml --seeds 1-10 [--trace 0]

For every metric it prints the median of the runs and the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of that median, next to the metric's bound from BENCHMARK.json.
Run from the repository root; each run is one `perfbench/run.py` call.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    values = {}
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(a.trace)], cwd=REPO, capture_output=True, text=True)
        out = p.stdout.strip().splitlines()
        if p.returncode != 0 or not out:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        r = json.loads(out[-1])
        print(f"seed {s}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in sorted(values.items()):
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{k:32s} median={med:14.4f} spread={spread:6.3f} bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
