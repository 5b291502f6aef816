#!/usr/bin/env python3
"""Traced-run report: for each workload, one untraced and one traced run
with the same seed, then the span dump, a per-layer self-time table and the
tracing overhead on each end-to-end metric.

    python3 graftbench/report.py [--seed N] [--seconds S] [workload ...]

Writes graftbench/traces/<workload>.json (spans, per-op self times, jobs by
call site) and graftbench/traces/REPORT.md.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "traces")
E2E = ["setup_s", "op_p50_s", "rows_per_s", "retained_heap_mb"]
LAYERS = ["sources", "kernels", "lines", "dedup", "sink", "ddf.build", "ddf.action",
          "admission", "probe", "op"]


def run(workload, seed, seconds, trace, trace_out=None):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = out.strip().splitlines()
    report = next(json.loads(ln.split(" ", 2)[2]) for ln in lines if ln.startswith("[graftbench] report"))
    return report, json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        run_seconds = json.load(fh)["run_seconds"]
    ap.add_argument("--seconds", type=int, default=run_seconds)
    ap.add_argument("workloads", nargs="*", default=["etl", "ingest", "admit"])
    a = ap.parse_args()
    os.makedirs(OUT, exist_ok=True)
    md = ["# Traced runs", "",
          "One untraced and one traced run per workload, seed %d, `--seconds %d`, "
          "made with `python3 graftbench/report.py`. One pair of runs: on a shared host the same "
          "seed differs by 15-25%% from run to run, so an overhead smaller than that is not resolved; "
          "the per-layer counts (jobs, tasks, rows, bytes) are the steady part." % (a.seed, a.seconds), ""]
    for w in a.workloads:
        dump = os.path.join(OUT, w + ".json")
        plain, _ = run(w, a.seed, a.seconds, 0)
        traced, result = run(w, a.seed, a.seconds, 1, dump)
        with open(dump) as fh:
            spans = json.load(fh)
        ops = spans["ops"]
        md += ["## %s" % w, "",
               "Tracing overhead (traced minus untraced, same seed):", "",
               "| metric | untraced | traced | overhead |", "|---|---|---|---|"]
        for m in E2E:
            u, t = plain[m], traced[m]
            md.append("| %s | %.4g | %.4g | %+.1f%% |" % (m, u, t, 100.0 * (t - u) / u))
        md += ["", "Layer self time per op, in seconds (%d timed ops; `probe` is the "
               "traced run's own boundary counting):" % len(ops), "",
               "| op | wall | " + " | ".join(LAYERS) + " | sum of self times |",
               "|---" * (len(LAYERS) + 3) + "|"]
        for o in ops:
            cells = [o["self_s"].get(l, 0.0) for l in LAYERS]
            md.append("| %d | %.3f | %s | %.3f |" % (o["op"], o["wall_s"],
                      " | ".join("%.3f" % c for c in cells), sum(cells)))
            assert sum(cells) <= o["wall_s"] + 1e-6, "self times exceed the op's wall time"
        md += ["", "Per-layer metrics of the traced run:", "", "| metric | value | unit |", "|---|---|---|"]
        for k, v in result["metrics"].items():
            md.append("| %s | %.6g | %s |" % (k, v["value"], v["unit"]))
        md += ["", "Jobs by call site, all timed ops:", "", "| jobs | call site |", "|---|---|"]
        for site, n in sorted(spans["jobs_by_call_site"].items(), key=lambda x: -x[1]):
            md.append("| %d | `%s` |" % (n, site))
        md.append("")
    with open(os.path.join(OUT, "REPORT.md"), "w") as fh:
        fh.write("\n".join(md))


if __name__ == "__main__":
    main()
