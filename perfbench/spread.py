#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload <w> --seeds 1-10 --seconds <s> [--trace 0]

Runs the benchmark once per seed, one run at a time, and prints per
metric the median and the spread: the distance between the first and
third quartile (`statistics.quantiles(values, n=4)`) as a share of the
median. The bounds in BENCHMARK.json are chosen against this spread.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    values, walls = {}, []
    for seed in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, RUN, "--workload", a.workload, "--seed", str(seed),
                            "--seconds", a.seconds, "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        walls.append(time.time() - t0)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
        out = json.loads(r.stdout.strip().splitlines()[-1])
        if not out["correct"]:
            print(f"seed {seed}: incorrect: {r.stdout.strip().splitlines()[-2][:500]}")
        for k, m in out["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(json.dumps({"seed": seed, "wall_s": round(walls[-1], 1),
                          **{k: m["value"] for k, m in out["metrics"].items()}}), flush=True)
    for k, v in values.items():
        print(f"{k:40s} median {statistics.median(v):12.4f}  spread {spread(v):.4f}")
    print(f"{'run wall':40s} median {statistics.median(walls):12.1f}  max {max(walls):.1f}")


if __name__ == "__main__":
    main()
