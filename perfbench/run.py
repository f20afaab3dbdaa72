#!/usr/bin/env python3
"""Job-search product benchmark.

    python3 perfbench/run.py --workload <serve_stored|ingest_batch|ingest_live>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the benchmark with sbt (the engine's
sources under src/main/scala plus perfbench/src) whenever a source file
changed, runs one workload in a fresh JVM, and prints that run's JSON result
as the last line of stdout. Progress goes to stderr. Exits non-zero without
printing a result when the engine sources or Spark are missing, the build
fails, or the run fails or times out.

Self-tests:  cd perfbench && sbt test
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, ".work")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("serve_stored", "ingest_batch", "ingest_live")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so no process outlives this script."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout} s", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    print("perfbench: building", file=sys.stderr)
    code, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0:
        fail("build failed", 4)
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(spark_jars):
        fail("SPARK_HOME must point at a Spark distribution")
    build()

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", CLASSES + os.pathsep + os.path.join(spark_jars, "*"),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK]
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=REPO, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        fail(f"run failed with exit code {code}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)
    print(lines[-1])


if __name__ == "__main__":
    main()
