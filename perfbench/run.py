#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload live --seed 1 --seconds 20 --trace 0

Builds the benchmark first when its sources or the program's sources
changed (sbt, offline), then runs the workload in a fresh JVM with the
production Spark jars. Build and run logs go to stderr; a per-run record
(summary figures, host state, and the trace spans of a traced run) is
kept under `.bench_runs/` at the checkout root.
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
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("live", "stream_family")
BUILD_TIMEOUT = 850
RUN_TIMEOUT = 170
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

child = None


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    files = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    global child
    child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        log(f"timed out after {timeout}s: {cmd[0]}")
        return None, None
    finally:
        code = child.returncode
        child = None
    return code, out


def spark_home():
    """SPARK_HOME, or the first installation with a jars/ directory that a
    spark-submit on PATH belongs to; None when there is none.
    """
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
        if os.path.isfile(exe) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return True
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building the benchmark and the program (sbt compile)")
    t0 = time.time()
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                        BUILD_TIMEOUT, cwd=HERE, env=env, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if code != 0:
        log("build failed")
        return False
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return True


def parse_result(out):
    for line in reversed(out.decode("utf-8", "replace").splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and set(obj) == RESULT_KEYS:
                return line
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        log(f"program sources not found under {PROGRAM_SRC}; run from a full checkout")
        return 2
    if not spark_home():
        log("no Spark installation found: set SPARK_HOME")
        return 2
    if not build():
        return 3

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", os.path.join(HERE, "data")]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT, cwd=work, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL)
        runs = os.path.join(ROOT, ".bench_runs")
        os.makedirs(runs, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
        for name, ext in (("record.json", "json"), ("trace.jsonl", "trace.jsonl")):
            if os.path.exists(os.path.join(work, name)):
                shutil.move(os.path.join(work, name), os.path.join(runs, f"{tag}.{ext}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = parse_result(out) if code == 0 and out else None
    if result is None:
        log(f"workload {a.workload} produced no result (exit code {code})")
        return 1
    print(result, flush=True)
    return 0


def on_term(signum, _frame):
    if child is not None and child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    sys.exit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    sys.exit(main())
