#!/usr/bin/env python3
"""Steadiness command: runs each workload repeatedly, one seed per run, and
prints each end-to-end metric's median, quartiles and spread (the distance
between the quartiles as a share of the median), against the metric's
bound in BENCHMARK.json. With --traced it also makes traced runs and prints
the tracing overhead: median traced run_s minus median untraced run_s.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--traced 0]
                              [--workload <name> ...]
"""
import argparse
import json
import statistics
import subprocess
import sys


def run(workload, seed, seconds, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n"
                           f"{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0,
                    help="traced runs per workload for the overhead")
    ap.add_argument("--workload", action="append",
                    help="repeat to pick workloads (default: all)")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        seeds = range(a.first_seed, a.first_seed + a.runs)
        results = [run(w, s, spec["run_seconds"], 0) for s in seeds]
        entry = {"correct": all(r["correct"] for r in results),
                 "failed": sum(r["failed"] for r in results), "metrics": {}}
        for name in bounds:
            values = [r["metrics"][name]["value"] for r in results]
            s = summary(values)
            s["values"] = values
            s["bound"] = bounds[name]
            s["within_third_of_bound"] = s["spread"] < bounds[name] / 3
            entry["metrics"][name] = s
        if a.traced:
            traced = [run(w, s, spec["run_seconds"], 1)
                      for s in range(a.first_seed, a.first_seed + a.traced)]
            entry["tracing_overhead_s"] = (
                statistics.median(r["metrics"]["trace.run_s"]["value"]
                                  for r in traced)
                - entry["metrics"]["run_s"]["median"])
        report[w] = entry
        for name, s in entry["metrics"].items():
            print(f"{w:16s} {name:17s} median={s['median']:.4g} "
                  f"q1={s['q1']:.4g} q3={s['q3']:.4g} spread={s['spread']:.3f} "
                  f"bound={s['bound']}", flush=True)
        if a.traced:
            print(f"{w:16s} tracing_overhead_s={entry['tracing_overhead_s']:.3f}",
                  flush=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
