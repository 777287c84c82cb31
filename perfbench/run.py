#!/usr/bin/env python3
"""Benchmark entry point: one command that builds the engine and the
benchmark from source when needed, runs one workload, checks its outputs,
and prints every metric by name with its unit.

    python3 perfbench/run.py --workload sketch-build --seed 1 --seconds 10 --trace 0

Workloads: sketch-build, sketch-rollup, query-mix (see perfbench/README.md).
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it carries
the run's details (tail percentile, sample counts, load shape). With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones.

Environment: SPARK_GRAFT_CPUS (cores, default: the CPUs this process may
use), SPARK_GRAFT_SF_DIR (query-mix tables, default ~/testdata/sf0.01).
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
WORKLOADS = ("sketch-build", "sketch-rollup", "query-mix")
# a first run in a fresh checkout builds (about a minute); every run must
# end within 180 s after that
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170
MAX_LINE = 2000
# the JVM heap, fixed so that runs compare
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def cores():
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    try:
        n = int(raw)
    except ValueError:
        fail(f"SPARK_GRAFT_CPUS must be an integer, got {raw!r}")
    if n < 1:
        fail(f"SPARK_GRAFT_CPUS must be positive, got {n}")
    return n


def sources():
    """Files whose change requires a rebuild."""
    pats = ["src/main/**/*.scala", "build.sbt", "project/*.sbt", "project/build.properties",
            "perfbench/src/main/**/*.scala", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    return [f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)]


def build():
    srcs = sources()
    if os.path.exists(LAUNCH) and all(os.path.getmtime(f) <= os.path.getmtime(LAUNCH) for f in srcs):
        return
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"]
    try:
        rc = subprocess.run(cmd, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if rc != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {rc})")


def run_jvm(args, n_cores, sf, deadline):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, opts = lines[0], [o for o in lines[1:] if o]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(WORK, f"result-{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(result):
        os.remove(result)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, *opts, "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(n_cores), "--work", WORK, "--sf", sf, "--result", result]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=deadline - time.time())
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark JVM timed out")
    if rc != 0 or not os.path.exists(result):
        fail(f"benchmark JVM failed (exit {rc})")
    with open(result) as f:
        return json.load(f)


def check_queries(out, sf, executions, deadline):
    """Compares every query-mix output in `out` with DuckDB on its oracleSql
    twin through the repository's oracle gate, compare_oracle.py. Returns
    the failed executions (every execution of a query the gate does not
    pass) and the gate's message per failed query."""
    cmd = [sys.executable, os.path.join(ROOT, "compare_oracle.py"), sf, out, ",".join(sorted(executions))]
    try:
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, stdin=subprocess.DEVNULL,
                           timeout=max(1.0, deadline - time.time()))
        lines, err = p.stdout.splitlines(), p.stderr
    except subprocess.TimeoutExpired:
        lines, err = [], "oracle gate timed out"
    passed, diffs, section = set(), {}, None
    for line in lines:
        if line.startswith("== "):
            section = line.split()[1]
        elif section in ("PASS", "FAIL") and ": " in line:
            name, msg = line.strip().split(": ", 1)
            if section == "PASS":
                passed.add(name)
            else:
                diffs[name] = msg[:200]
    for name in executions:
        if name not in passed and name not in diffs:
            diffs[name] = ("not checked: " + err.strip()[-160:]) if err.strip() else "not checked"
    return sum(n for name, n in executions.items() if name not in passed), diffs


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be positive")
    n_cores = cores()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"))
    if args.workload == "query-mix" and not os.path.exists(os.path.join(sf, "lineitem.parquet")):
        fail(f"query-mix tables not found in {sf} (set SPARK_GRAFT_SF_DIR)")
    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    build()
    built_s = time.time() - t0
    deadline = time.time() + RUN_TIMEOUT_S
    res = run_jvm(args, n_cores, sf, deadline)
    failed = res["failed"]
    detail = res["detail"]
    if res["query_executions"]:
        qfailed, diffs = check_queries(res["query_out"], sf, res["query_executions"], deadline)
        failed += qfailed
        detail["query_check_failures"] = diffs
        detail["queries_checked"] = len(res["query_executions"])
    detail["build_s"] = round(built_s, 3)
    for name, m in sorted(res["metrics"].items()):
        print(f"perfbench: {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    line = json.dumps({"detail": detail}, sort_keys=True, separators=(",", ":"))
    print(line if len(line) <= MAX_LINE else line[:MAX_LINE - 3] + "...")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": res["metrics"]}, sort_keys=True, separators=(",", ":")))


if __name__ == "__main__":
    main()
