#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload interactive --seeds 1-10 [--seconds 10]

Runs the benchmark once per seed (untraced) and prints, per metric, the
median and the inter-quartile distance as a share of the median, as
`statistics.quantiles(values, n=4)` gives the quartiles; next to it, the
metric's bound from BENCHMARK.json. Also prints each run's wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls = {}, []
    for seed in range(lo, hi + 1):
        t = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                             cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            print("seed %d FAILED:\n%s" % (seed, out.stdout), file=sys.stderr)
            return 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print("seed %d  wall %.1f s  %s" % (seed, walls[-1], " ".join(
            "%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())), flush=True)
    print("%-22s %12s %8s %8s" % ("metric", "median", "spread", "bound"))
    for k, vs in values.items():
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        print("%-22s %12.4f %8.3f %8.3f" % (k, med, (q3 - q1) / med if med else 0.0, bounds.get(k, 0)))
    print("wall per run: median %.1f s, max %.1f s" % (statistics.median(walls), max(walls)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
