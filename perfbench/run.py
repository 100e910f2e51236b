#!/usr/bin/env python3
"""Paper-flow benchmark runner.

    python3 perfbench/run.py --workload <etl_bulk|daily> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (sbt, offline,
into perfbench/target), launches one JVM for the run, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans land in perfbench/out/. Everything the run
writes stays under perfbench/ and the per-run work directory is removed on
exit. See perfbench/BENCHMARK.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-stamp.txt")
RUN_DIR = os.path.join(HERE, ".run")
OUT_DIR = os.path.join(HERE, "out")

WORKLOADS = ("etl_bulk", "daily")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# A fixed heap and C1-only JIT: with an adaptive heap and C2's
# profile-driven recompilation the JVM keeps changing speed for over a
# minute and settles at levels that differ by about 20% between runs, which
# a short run cannot average out. Both sides of any comparison use the same
# flags, so the program's own costs still show.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1",
             # no perf-counter file in the system temp dir, outside the checkout
             "-XX:-UsePerfData"]

# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# spark-submit normally injects.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the classes match the current sources."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                return
    log("building (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        raise SystemExit("perfbench: build failed")
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, work, out, deadline):
    with open(CLASSPATH_FILE) as fh:
        cp = fh.read().strip()
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.FlowBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--cores", str(cores())]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        log("run timed out")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a terminated runner still runs its cleanup, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "api", "Api.scala")):
        log(f"program sources not found under {PROGRAM_SRC}")
        return 2
    try:
        build()
    except (subprocess.TimeoutExpired, OSError) as e:
        log(f"build failed: {e}")
        return 2
    tb = time.monotonic()

    work = os.path.join(RUN_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT_DIR, exist_ok=True)
    out = os.path.join(work, "result.json")
    try:
        rc = run_jvm(args, work, out, tb + RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            log(f"benchmark JVM exited with {rc} and no result")
            return 1
        with open(out) as fh:
            result = json.load(fh)
        if args.trace:
            tag = f"{args.workload}-seed{args.seed}"
            for suffix in (".spans.jsonl", ".traced_e2e.json"):
                shutil.copy(out + suffix, os.path.join(OUT_DIR, tag + suffix))
            with open(os.path.join(OUT_DIR, tag + ".per_layer.json"), "w") as fh:
                json.dump(result, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(RUN_DIR)
        except OSError:
            pass
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
