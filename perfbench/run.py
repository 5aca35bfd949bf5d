#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the program and the harness
with sbt when their sources changed since the last build, runs the
workload in one JVM, and prints the result as the last line of standard
output: {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Everything else goes to standard error. Exits non-zero, printing no
result, if the build or the run fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = "perfbench"
WORKLOADS = ("rest_load", "rest_upsert", "query_suite", "stream_ingest")
# Stale build stamps are detected from these, relative to the checkout.
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties", f"{BENCH}/src/main")
# What Spark needs on JDK 17 outside spark-submit (as the root build sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run(cmd, cwd, timeout):
    """Runs cmd with its output on stderr; kills it and waits on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"timed out after {timeout} s: {cmd[0]}")
        return -1


def build(root):
    """Returns the harness classpath, building first if sources changed."""
    target = os.path.join(root, BENCH, "target")
    stamp_file = os.path.join(target, "build.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cp:
                    return cp.read().strip()
    log("building the program and the harness")
    os.environ.setdefault("COURSIER_MODE", "offline")
    code = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
               os.path.join(root, BENCH), BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(cp_file):
        sys.exit(f"build failed (exit {code})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cp:
        return cp.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record-digests", help="write the query suite's digests here")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        sys.exit("run from the root of a checkout of the program (build.sbt, src/main/scala/graft)")
    classpath = build(root)

    run_dir = os.path.join(root, ".bench_run", f"jvm-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    # The JIT is set up to settle within a run's warm-up. Under the default
    # tiered JIT, unit times keep falling for 30-40 s of runs while C2
    # compiles Spark's driver code, so a run's median depended on how many
    # units it fitted. C1 alone compiles fast, and a tenth of the default
    # compile thresholds compiles the driver code that runs only a few
    # times per unit within the first units. C1 alone defaults to a 48 MB
    # code cache, which a run fills (the JIT then stops and flushes code, a
    # 1-2 s stall), so the cache gets the tiered default size.
    cmd = ["java", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
           "-XX:ReservedCodeCacheSize=240m", f"-Djava.io.tmpdir={run_dir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--root", root, "--out", out]
    if args.record_digests:
        cmd += ["--record-digests", os.path.abspath(args.record_digests)]
    try:
        code = run(cmd, root, RUN_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            sys.exit(f"workload {args.workload} failed (exit {code})")
        with open(out) as fh:
            result = fh.read().strip()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(result, flush=True)


if __name__ == "__main__":
    main()
