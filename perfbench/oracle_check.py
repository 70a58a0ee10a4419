#!/usr/bin/env python3
"""Check the serve and curate results on the benchmark's own tables
against the DuckDB oracle.

    python3 perfbench/oracle_check.py [--sf 0.1]

Runs graft.Verify for the 51 queries of the two query workloads over the
generated tables (run.py must have generated them once), then the repo's
tools/verify_local.py, which re-runs each query's oracle SQL in DuckDB
and compares rows, schema and hash. Queries without oracle SQL are
reported by verify_local.py and are checked by row count and hash only.
"""
import argparse
import glob
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # import run.py without leaving a cache
sys.path.insert(0, HERE)
import run  # noqa: E402


def names():
    src = open(os.path.join(HERE, "src", "main", "scala", "perfbench",
                            "Main.scala")).read()
    found = []
    for list_name in ("Serve", "Curate"):
        body = re.search(r"val %s = Seq\((.*?)\)" % list_name, src, re.S).group(1)
        found += re.findall(r'"(\w+)"', body)
    return found


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.1")
    args = ap.parse_args()
    data = os.path.join(run.BUILD, "data", f"sf{args.sf}")
    if not os.path.exists(os.path.join(data, "_COMPLETE")):
        sys.exit("no generated tables: run run.py once at this --sf first")
    work = os.path.join(run.BUILD, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    # DuckDB reads <table>.parquet as a file: link each table's one part file
    flat = os.path.join(work, "tables")
    os.makedirs(flat)
    for d in glob.glob(os.path.join(data, "*.parquet")):
        part = glob.glob(os.path.join(d, "part-*.parquet"))
        if len(part) != 1:
            sys.exit(f"{d}: expected one part file, found {len(part)}")
        os.symlink(part[0], os.path.join(flat, os.path.basename(d)))
    run.build()
    with open(run.CLASSPATH) as f:
        classpath = f.read().strip()
    os.makedirs(os.path.join(work, "jtmp"))
    subprocess.run(
        ["java", "-Xmx6g", f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')}",
         "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] +
        [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
        ["-cp", classpath, "graft.Verify", data, os.path.join(work, "out"),
         ",".join(names())],
        cwd=ROOT, check=True, env=dict(os.environ, SPARK_LOCAL_IP="127.0.0.1"))
    rc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "verify_local.py"),
                         os.path.join(work, "out"), flat], cwd=ROOT).returncode
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
