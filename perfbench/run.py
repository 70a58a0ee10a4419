#!/usr/bin/env python3
"""Run one benchmark workload of the engine and print one JSON result line.

    python3 perfbench/run.py --workload serve|ingest|curate --seed N \
        --seconds S --trace 0|1 [--sf 0.1] [--setups 3] \
        [--dump FILE]

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) and generates the input tables
under .bench_build/ in a JVM of their own; later runs reuse both. Each
run works in a fresh temporary root under .bench_build/tmp/, deletes it
at exit, and fails if it left anything behind in the repository tree. The last line of
standard output is the result:

    {"correct": true, "attempted": 41, "failed": 0, "metrics": {...}}

Everything else (build log, per-metric report, span self times) goes to
standard error.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
EXPECTED = os.path.join(HERE, "expected")
# directories a run may write: build outputs and the benchmark's own work
# area; anything else that appears in the tree during a run is a leak
IGNORED_DIRS = {".bench_build", "target", ".bsp", ".git", ".metals", ".bloop"}
# a run ends within 175 s, or within 880 s when it first has to build the
# harness and generate the tables
START = time.time()
JVM_TIMEOUT_S = 165
DEADLINE_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def remaining(jvm_s):
    """Seconds left for a build or generation step, keeping `jvm_s` for
    the benchmark JVM itself."""
    return max(1.0, START + DEADLINE_S - jvm_s - time.time())


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the harness build reads from the repository."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in IGNORED_DIRS and x != "project"]
            files += [os.path.join(d, n) for n in names]
    return files


def build():
    """Compile the engine and the harness unless the classpath file is
    newer than every source it was built from."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" +
                       os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    log("building engine and harness (sbt, offline)")
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=remaining(JVM_TIMEOUT_S))
    except subprocess.TimeoutExpired:
        stop(proc)
        sys.exit("[run.py] build timed out")
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(out[-6000:])
        sys.exit(f"[run.py] build failed (exit {proc.returncode})")
    log(f"build done in {time.time() - t0:.1f} s")


def stop(proc):
    """Kill a child's whole process group and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def tree():
    """Relative paths of the files in the repository tree, build and work
    areas excluded."""
    out = set()
    for d, dirs, names in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in IGNORED_DIRS]
        rel = os.path.relpath(d, ROOT)
        out |= {os.path.normpath(os.path.join(rel, n)) for n in names}
    return out


def expected_metrics(traced):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default="0.1")
    ap.add_argument("--setups", type=int, default=3)
    ap.add_argument("--dump", help="write observed query results here")
    args = ap.parse_args()

    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"[run.py] engine sources not found: {', '.join(missing)}")
    build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    before = tree()
    tmp_root = os.path.join(BUILD, "tmp")
    work = os.path.join(tmp_root, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "jtmp"))
    data = os.path.join(BUILD, "data", f"sf{args.sf}")
    expected = os.path.join(EXPECTED, f"sf{args.sf}.json")
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))

    def java(heap, main_class, main_args):
        return (["java"] + heap +
                [f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')}",
                 "-Dspark.ui.enabled=false",
                 "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] +
                [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
                ["-cp", classpath, main_class] + main_args)

    # the input tables, in a JVM of its own (a no-op when they are current)
    gen = subprocess.Popen(
        java(["-Xmx4g"], "perfbench.DataGen",
             [work, args.sf, data]),
        cwd=ROOT, env=env, stdout=subprocess.DEVNULL, start_new_session=True)
    try:
        gen.wait(timeout=remaining(JVM_TIMEOUT_S))
    except subprocess.TimeoutExpired:
        stop(gen)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("[run.py] data generation timed out")
    if gen.returncode != 0:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"[run.py] data generation failed (exit {gen.returncode})")

    # fixed heap and young generation: the peak RSS of an adaptively
    # sized heap spread by a third between runs of the same workload
    cmd = java(["-Xmx6g", "-Xms6g", "-Xmn1g"], "perfbench.Main",
               ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--sf", args.sf,
                "--setups", str(args.setups),
                "--data-dir", data, "--work-dir", work,
                "--expected", expected])
    if args.trace:
        cmd += ["--trace-out", os.path.join(
            BUILD, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl")]
    if args.dump:
        cmd += ["--dump", os.path.abspath(args.dump)]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=min(JVM_TIMEOUT_S, remaining(0)))
    except subprocess.TimeoutExpired:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"[run.py] run exceeded {JVM_TIMEOUT_S} s")
    log(f"benchmark JVM ran {time.time() - t0:.1f} s")
    shutil.rmtree(work, ignore_errors=True)

    problems = []
    if proc.returncode != 0:
        problems.append(f"benchmark JVM exited with {proc.returncode}")
    leaked = sorted(tree() - before)
    if leaked:
        problems.append("run left new files in the repository tree: " +
                        ", ".join(leaked[:10]))
    if os.path.exists(work):
        problems.append(f"temporary root {work} was not removed")
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        problems.append("no JSON result line")
    if result is not None:
        want = expected_metrics(bool(args.trace))
        got = list(result.get("metrics", {}))
        if want is not None and sorted(want) != sorted(got):
            problems.append(f"metrics {sorted(got)} differ from BENCHMARK.json {sorted(want)}")
    if problems:
        for p in problems:
            log("ERROR: " + p)
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
