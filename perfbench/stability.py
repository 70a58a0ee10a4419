#!/usr/bin/env python3
"""Run two sets of benchmark runs and compare them.

    python3 perfbench/stability.py [--runs 10] [--workloads ingest,curate]
        [--sets 2] [--first-seed 1]

For every workload, each set makes --runs runs, each with its own seed
(consecutive seeds from --first-seed, never reused across sets). For
each end-to-end metric it prints, per set, the median, the first and
third quartile (statistics.quantiles, n=4) and the spread
(Q3 - Q1) / median, and then the shift of the second set's median
against the first, in the direction that would count as a regression,
next to the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    metrics = spec["end_to_end"]
    ok = True
    for workload in args.workloads.split(","):
        sets = []
        for s in range(args.sets):
            results = []
            for i in range(args.runs):
                seed = args.first_seed + s * args.runs + i
                r = run(workload, seed, spec["run_seconds"])
                if not r["correct"]:
                    ok = False
                    print(f"{workload} seed {seed}: not correct "
                          f"({r['failed']}/{r['attempted']} failed)")
                results.append(r)
            sets.append(results)
        print(f"== {workload}: {args.sets} sets x {args.runs} runs")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            medians = []
            for s, results in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in results]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                medians.append(med)
                flag = "" if spread <= bound else "  OVER BOUND"
                if flag:
                    ok = False
                print(f"  {name:<14} set {s + 1}: median {med:.6g}  Q1 {q1:.6g}  "
                      f"Q3 {q3:.6g}  spread {spread:.3f} (bound {bound}){flag}")
                print("      runs: " + " ".join(f"{v:.4g}" for v in vals))
            for s in range(1, len(medians)):
                shift = (medians[s] - medians[0]) / medians[0]
                worse = shift if m["better"] == "lower" else -shift
                flag = "  OVER BOUND" if worse > bound else ""
                if flag:
                    ok = False
                print(f"  {name:<14} set {s + 1} vs set 1: {100 * worse:+.1f}% "
                      f"worse (bound {100 * bound:.0f}%){flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
