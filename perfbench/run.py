#!/usr/bin/env python3
"""Run one graft benchmark workload on one seed.

    python3 perfbench/run.py --workload <dashboard|batch> --seed <n> \
        --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run compiles graft's
sources together with the benchmark's (sbt, offline, build file
perfbench/build.sbt); later runs reuse the build while no source changed.
The JVM's progress lines go to stdout, Spark's logs to stderr, and the last
stdout line is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones, and the run also writes its spans to
perfbench/results/spans-<workload>-<seed>.jsonl. Every file the run makes
lives in perfbench/.work/ (removed at exit) or perfbench/results/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench-build.stamp")
WORKLOADS = ("dashboard", "batch")
# every run, build included, must end well inside the caller's 180 s (900 s
# for the first, building run)
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
# refuse to start with less free disk than the largest workload's stores,
# shuffle files and checkpoints can need
MIN_FREE_BYTES = 3 << 30
JVM_OPTS = [
    # a fixed heap ceiling, young generation and collector, and no
    # pre-touched heap: the young generation is touched in full early on,
    # so the peak resident set then grows only with what the run promotes
    # and keeps, and with off-heap and native use
    "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false",
] + [opt for pkg in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
) for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """$SPARK_HOME, else the Spark installation whose bin/spark-submit is
    on the PATH (a pip-installed launcher script without jars/ is skipped)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        launcher = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(launcher)))
        if os.path.isfile(launcher) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("SPARK_HOME is not set and no Spark installation is on the PATH")


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (GRAFT_SRC, os.path.join(BENCH, "src", "main", "scala")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(spark):
    """Compile when graft's or the benchmark's sources changed since the
    last build in this checkout."""
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark)
    repos = os.path.expanduser("~/.sbt/repositories")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx3g"]
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    print("perfbench: building (sbt compile)", file=sys.stderr)
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {GRAFT_SRC}: run from a graft checkout")
    if shutil.disk_usage(BENCH).free < MIN_FREE_BYTES:
        fail(f"less than {MIN_FREE_BYTES >> 30} GB free under {BENCH}")

    spark = spark_home()
    build(spark)

    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    results = os.path.join(BENCH, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", f"{CLASSES}:{os.path.join(spark, 'jars')}/*", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result_file]
    if args.trace:
        cmd += ["--spans", os.path.join(
            results, f"spans-{args.workload}-{args.seed}.jsonl")]

    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        relay = threading.Thread(target=lambda: [sys.stdout.write(line) or sys.stdout.flush()
                                                 for line in proc.stdout], daemon=True)
        relay.start()
        try:
            proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("run exceeded its time limit")
        relay.join()
        if proc.returncode != 0:
            fail(f"benchmark JVM exited with {proc.returncode}")
        with open(result_file) as fh:
            result = json.load(fh)
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"malformed result {result}")
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
