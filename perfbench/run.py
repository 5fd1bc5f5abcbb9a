#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <filter_probe|filter_build|gate_suite>
        --seed <n> --seconds <s> --trace <0|1> [--scale full|smoke]
        [--plant-wrong-count] [--gates all]

`--gates all` makes gate_suite run every SparkEntry gate instead of the
listed subset, and print each operator family's share of the pass and
each gate's row count on standard error. A run of all gates takes several
minutes, so it is given a longer time limit.

Builds the library and the benchmark from source with sbt when the sources
changed since the last build (outputs under .bench_build/ and the sbt
target/ directories), then runs one workload in one JVM and relays its
output. The last line of standard output is the result JSON object.
Exits non-zero, without a result line, if the build, the run or the
result line fails.
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
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
STAMP = os.path.join(WORK, "build.stamp")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ALL_GATES_TIMEOUT_S = 1800
HEAP = "3g"
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as the
# library's build.sbt javaOptions.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to ROOT, in a stable order."""
    tops = [os.path.join("src", "main"), os.path.join("perfbench", "src")]
    files = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for top in tops:
        for d, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in sorted(names)]
    return files


def source_digest():
    h = hashlib.sha1()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout=None, env=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build(digest):
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        code, _ = run_bounded([sbt, "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData", "writeClasspath"],
                              HERE, BUILD_TIMEOUT_S, stdout=sys.stderr)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if code != 0 or not os.path.exists(CLASSPATH):
        fail("build failed (sbt exit %d)" % code)
    os.makedirs(WORK, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")) or shutil.which("git") is None:
        return "none"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    ap.add_argument("--plant-wrong-count", action="store_true")
    ap.add_argument("--gates", choices=["listed", "all"], default="listed")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found next to perfbench/")
    build(source_digest())

    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    # Everything one run writes lives under WORK/run and is removed after it.
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_STAGE_DIR=os.path.join(run_dir, "stage"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    # A fixed heap size: G1 then keeps its young generation sizing from pass
    # to pass instead of shrinking the heap after each pass's full GC.
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", args.scale, "--root", ROOT, "--work", WORK,
            "--gates", args.gates, "--commit", git_commit(), "--launch-ms", str(int(time.time() * 1000))]
    if args.plant_wrong_count:
        cmd.append("--plant-wrong-count")
    timeout = ALL_GATES_TIMEOUT_S if args.gates == "all" else RUN_TIMEOUT_S
    try:
        code, out = run_bounded(cmd, ROOT, timeout, stdout=subprocess.PIPE, env=env)
    except subprocess.TimeoutExpired:
        fail("run timed out after %d s" % timeout)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.decode("utf-8", "replace").splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines) + "\n")
        fail("benchmark JVM exited with %d" % code)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stderr.write("\n".join(lines) + "\n")
        fail("no result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
