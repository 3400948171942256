#!/usr/bin/env python3
"""Runs one benchmark run of the engine and prints its result.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness with sbt
(perfbench/build.sbt) and every later run reuses that build until a source
file changes. The harness runs in its own JVM, checks the committed input
data against data/SHA256SUMS, and prints a metric table followed by one JSON
result line: {"correct", "attempted", "failed", "metrics"}. All files it
writes go under perfbench/target/.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
LAUNCHER = TARGET / "launcher.args"
DATA = HERE / "data" / "sf0.1"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns its exit code. On a
    timeout, a signal or any other way out, the whole group is killed and
    waited for, so no process of the run outlives it."""
    child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return child.wait(timeout=timeout)
    finally:
        if child.poll() is None:
            try:
                os.killpg(child.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            child.wait()


def newest_source_mtime():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties", ROOT / "build.sbt"]
    for d in (ENGINE_SRC, HERE / "src" / "main"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return max(p.stat().st_mtime for p in files if p.exists())


def build():
    """Compiles the engine and the harness and writes the JVM argument file."""
    if LAUNCHER.exists() and LAUNCHER.stat().st_mtime >= newest_source_mtime():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "launcher"]
    try:
        # sbt's log goes to stderr: stdout carries only the result
        rc = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    except (subprocess.TimeoutExpired, OSError) as e:
        fail(f"build failed: {e}")
    if rc != 0:
        fail(f"build failed: sbt exited with {rc}")


def check_data():
    sums = (HERE / "data" / "SHA256SUMS").read_text().split("\n")
    for line in filter(None, sums):
        digest, name = line.split()
        path = DATA / name
        if not path.is_file() or hashlib.sha256(path.read_bytes()).hexdigest() != digest:
            fail(f"input data {path} is missing or differs from data/SHA256SUMS")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    if not (ENGINE_SRC / "graft" / "SparkEntry.scala").is_file():
        fail(f"no engine sources under {ENGINE_SRC}; run from a full checkout")
    build()
    check_data()
    work = TARGET / "run"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Djava.io.tmpdir={work / 'tmp'}", f"@{LAUNCHER}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--data", str(DATA), "--expected", str(HERE / "expected.tsv"),
           "--work", str(work)]
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        rc = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(rc)


if __name__ == "__main__":
    # a SIGTERM unwinds like Ctrl-C, through run_child's clean-up
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    try:
        main()
    except KeyboardInterrupt:
        fail("interrupted")
