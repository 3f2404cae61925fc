#!/usr/bin/env python3
"""Zipkin-path benchmark runner.

Run from the repository root:

    python3 zbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Workloads: query, stream, dedup (or `all`, which runs the three in turn). The first run builds the library and the benchmark with sbt; later
runs reuse the build while the sources are unchanged. The benchmark JVM's
own log goes to stderr; stdout carries one line per metric and, last, one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics, and
writes the run's layer spans as Zipkin JSON_V2 under zbench/out/.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RUNTIME = os.path.join(TARGET, "runtime.txt")
STAMP = os.path.join(TARGET, "sources.sha1")
WORKLOADS = ["query", "stream", "dedup"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# heap for the one local-mode JVM, which runs every Spark component
HEAP = "3g"


def fail(msg):
    print(f"zbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """sha1 over every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha1()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to zbench/")
    digest = source_digest()
    if os.path.exists(RUNTIME) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    print("zbench: building (sbt writeRuntime)", file=sys.stderr)
    try:
        proc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeRuntime"],
                              cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if proc.returncode != 0 or not os.path.exists(RUNTIME):
        fail(f"build failed (exit {proc.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def expected_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, when it is present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_one(workload, seed, seconds, trace):
    with open(RUNTIME) as f:
        lines = [l.strip() for l in f if l.strip()]
    classpath, jvm_opts = lines[0], lines[1:]
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *jvm_opts,
           "-cp", classpath, "zbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--work", work, "--result", result,
           "--trace-dir", os.path.join(HERE, "out")]
    # Spark's scratch space stays in the work dir whatever the caller's env says
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload}: benchmark JVM timed out after {RUN_TIMEOUT_S} s")
    try:
        if code != 0 or not os.path.exists(result):
            fail(f"{workload}: benchmark JVM exited with {code}")
        with open(result) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    build()
    names = expected_metrics(a.trace == 1)
    workloads = WORKLOADS if a.workload == "all" else [a.workload]
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads:
        r = run_one(w, a.seed, a.seconds, a.trace == 1)
        for e in r["errors"]:
            print(f"zbench: {w}: {e}", file=sys.stderr)
        got = list(r["metrics"])
        if names is not None and sorted(got) != sorted(names):
            fail(f"{w} reported {sorted(set(got) ^ set(names))} unlike BENCHMARK.json")
        for k, m in r["named"].items():
            print(f"{w} {k} = {m['value']} {m['unit']}")
        print(f"{w} attempted = {r['attempted']}, failed = {r['failed']}, correct = {r['correct']}")
        out["correct"] = out["correct"] and r["correct"]
        out["attempted"] += r["attempted"]
        out["failed"] += r["failed"]
        if a.workload == "all":
            out["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
        else:
            out["metrics"] = r["metrics"]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
