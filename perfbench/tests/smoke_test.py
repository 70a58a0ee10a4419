#!/usr/bin/env python3
"""Smoke test of the benchmark harness: every workload, shortened, at
sf0.001, untraced and traced.

    python3 perfbench/tests/smoke_test.py [--workloads serve,ingest,curate]

Each run must exit 0, report correct with no failed operation, and print
exactly the metrics BENCHMARK.json names for its mode; a traced run must
also write its span file. Takes a few minutes (one JVM per run).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="serve,ingest,curate")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for workload in args.workloads.split(","):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(BENCH, "run.py"),
                   "--workload", workload, "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--sf", "0.001", "--setups", "1"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True)
            tag = f"{workload} trace={trace}"
            if p.returncode != 0:
                failures.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                failures.append(f"{tag}: {r['failed']}/{r['attempted']} failed\n"
                                f"{p.stderr[-3000:]}")
            if set(r["metrics"]) != want:
                failures.append(f"{tag}: metrics {sorted(r['metrics'])}")
            spans = os.path.join(ROOT, ".bench_build", "traces",
                                 f"{workload}-seed7.spans.jsonl")
            if trace and not os.path.exists(spans):
                failures.append(f"{tag}: no span file {spans}")
            print(f"{tag}: ok" if not failures or not failures[-1].startswith(tag)
                  else f"{tag}: FAILED", flush=True)
    for f in failures:
        print(f, file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
