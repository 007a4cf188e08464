#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload kg_lake|queries --seed N --seconds S --trace 0|1

Builds the benchmark with sbt when its sources changed (the first run in a
checkout), runs one workload in one JVM at local[<cores>], prints every
reading as `metric <name> <value> <unit>`, and prints as its last line one JSON
object: the run's checks and, with --trace 0, the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. Exits non-zero when a
check fails or the run could not be made.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, "work")
SF_DIR = os.path.join(BENCH, "data", "sf0.01")
ORACLE_ROWS = os.path.join(BENCH, "data", "oracle_rows_sf0.01.tsv")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(TARGET, "source-stamp.txt")
    stamp = source_stamp()
    outputs = [os.path.join(TARGET, f) for f in ("classpath.txt", "jvm-options.txt")]
    if all(map(os.path.exists, outputs + [stamp_file])):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for o in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if o not in opts:
            opts += " " + o
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "writeClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        fail(f"build failed with exit code {p.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def java_cmd():
    with open(os.path.join(TARGET, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(TARGET, "jvm-options.txt")) as fh:
        opts = [o for o in fh.read().split("\n") if o]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java"] + opts + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}", "-cp", cp]


def run_jvm(a):
    cmd = java_cmd() + [
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", WORK, "--sf", SF_DIR,
        "--oracle", ORACLE_ROWS]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"the benchmark JVM did not finish within {RUN_TIMEOUT_S} s")
    lines = out.rstrip("\n").split("\n")
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"the benchmark JVM exited with code {p.returncode} and printed no result")
    return result, p.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.isfile(spec_file):
        fail("run from the root of a checkout that holds the product sources and BENCHMARK.json")
    with open(spec_file) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    build()
    result, rc = run_jvm(a)

    # The JVM reports every reading it took; the result carries the declared
    # set. A per-layer metric of a layer this workload does not run reads 0.
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got and not a.trace]
    if missing:
        fail(f"the run did not measure {', '.join(missing)}")
    result["metrics"] = {
        m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]}) for m in declared}
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
