#!/usr/bin/env python3
"""Measure the tracing overhead of one workload.

    python3 perfbench/trace_overhead.py --workload ingest [--seed 1]

Runs the workload untraced and then traced with the same seed and prints
the traced cycle time against the untraced one (cycle_p50_s: a pass over
the query set, or one ingest day). The traced run's span file
and per-layer table are described in README.md.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    args = ap.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    u = plain["cycle_p50_s"]["value"]
    t = traced["trace.cycle_p50_s"]["value"]
    print(f"{args.workload} cycle_p50_s: untraced {u:.6g}, traced {t:.6g}, "
          f"traced/untraced {t / u:.3f}")


if __name__ == "__main__":
    main()
