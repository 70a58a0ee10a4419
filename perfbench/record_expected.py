#!/usr/bin/env python3
"""Record the expected results of the query workloads.

    python3 perfbench/record_expected.py [--sf 0.1]

Runs `serve` and `curate` twice each (seeds 1 and 2, so the queries run
in different orders) with --dump, and writes perfbench/expected/sf<sf>.json
with each query's row count and order-insensitive result hash. A query
whose row count differs between the two runs is an error; a query whose
hash differs keeps its row count only (hash null) and is listed under
"rows_only". Run it only on a commit whose results are known to be right
(see oracle_check.py), and only when the input tables or the query set
change.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def dump(workload, seed, sf, path):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", "1", "--trace", "0", "--sf", sf,
                    "--setups", "1", "--dump", path],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.1")
    args = ap.parse_args()
    scratch = os.path.join(ROOT, ".bench_build", "record")
    os.makedirs(scratch, exist_ok=True)
    out = {"rows_only": []}
    for workload in ("serve", "curate"):
        a = dump(workload, 1, args.sf, os.path.join(scratch, f"{workload}-1.json"))
        b = dump(workload, 2, args.sf, os.path.join(scratch, f"{workload}-2.json"))
        if sorted(a) != sorted(b):
            sys.exit(f"{workload}: query sets differ between runs")
        out[workload] = {}
        for name in sorted(a):
            if a[name]["rows"] != b[name]["rows"]:
                sys.exit(f"{name}: row count differs between runs "
                         f"({a[name]['rows']} vs {b[name]['rows']})")
            stable = a[name]["hash"] == b[name]["hash"]
            out[workload][name] = {"rows": a[name]["rows"],
                                   "hash": a[name]["hash"] if stable else None}
            if not stable:
                out["rows_only"].append(name)
    path = os.path.join(HERE, "expected", f"sf{args.sf}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}; rows only: {out['rows_only'] or 'none'}")


if __name__ == "__main__":
    main()
