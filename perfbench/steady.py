#!/usr/bin/env python3
"""Steadiness check: run one workload N times with different seeds and
print, per metric, the median and the interquartile spread as a share
of the median (statistics.quantiles(values, n=4)), plus each run's
environment and wall time.

    python3 perfbench/steady.py --workload ingest --runs 5 [--first-seed 1]
        [--seconds 10] [--trace 0]

Run from the repository root. The spreads are what the bounds in
BENCHMARK.json are set against: a metric is steady when its spread is
well below its bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def spread(values):
    """(median, (q3 - q1) / median) of at least two values."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    values = {}
    units = {}
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            continue
        result = json.loads(lines[-1])
        env = next((l[4:] for l in lines if l.startswith("env ")), "{}")
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} env={env}")
        for l in lines:
            if l.startswith("failure "):
                print("  " + l)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        print("  " + " ".join(f"{k}={m['value']:.5g}"
                              for k, m in result["metrics"].items()))
        # the workload's own named metrics, printed before the result line
        for l in lines:
            if l.startswith("metric "):
                _, name, value, unit = l.split()
                values.setdefault("detail." + name, []).append(float(value))
                units["detail." + name] = unit
    print(f"\n{'metric':48s} {'median':>14s} {'iqr/median':>10s}  n  unit")
    for name, vs in values.items():
        if len(vs) < 2:
            continue
        med, sp = spread(vs)
        print(f"{name:48s} {med:14.6g} {sp:10.4f} {len(vs):2d}  {units[name]}")


if __name__ == "__main__":
    main()
