#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 graftbench/spread.py [--runs 10] [--first-seed 1] [--seconds S] \
        [--out FILE] [workload ...]

Runs each workload once per seed (first-seed, first-seed + 1, ...), then
prints, per workload and metric, the median of the runs and the spread: the
distance between the first and third quartile (statistics.quantiles, n=4) as
a share of the median. --out writes every run's result and the summary as
JSON. --seconds defaults to run_seconds from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out")
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs, summary = [], {}
    for w in a.workloads:
        vals = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            res = json.loads(last) if p.returncode == 0 else None
            runs.append({"workload": w, "seed": seed, "exit": p.returncode,
                         "wall_s": round(time.time() - t0, 1), "result": res or last})
            print("%s seed %d: exit %d, %.0f s, %s" % (w, seed, p.returncode, time.time() - t0,
                  "correct" if res and res["correct"] else "NOT CORRECT"), flush=True)
            for k, v in (res or {}).get("metrics", {}).items():
                vals.setdefault(k, []).append(v["value"])
        summary[w] = {}
        for k, xs in vals.items():
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
            summary[w][k] = {"median": med, "spread": (q[2] - q[0]) / med, "bound": bounds.get(k)}
            print("  %-18s median %-12.6g spread %.3f (bound %s)" % (k, med, (q[2] - q[0]) / med,
                  bounds.get(k)), flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"seconds": a.seconds, "summary": summary, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
