#!/usr/bin/env python3
"""Benchmark launcher for graft.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt on first use (the
build lands in .bench_build/ and is reused while the sources are
unchanged), then runs one workload in one JVM. The harness's last stdout
line is the result object; this script passes it through and exits 0 only
when the harness finished and printed it.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "perfbench", "launch.txt")
STAMP = os.path.join(BUILD, "perfbench", "sources.sha256")
ARCHIVE = os.path.join(BUILD, "perfbench", "classes.jsa")
ENGINE_SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("bulk_build", "query_serving", "ingest_compact")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return home


def sources_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for base in (ENGINE_SOURCES, os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, stdout=None):
    """Run a child in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: {cmd[0]} timed out after {timeout}s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def java_cmd(extra, run_dir):
    """The harness JVM: classpath and module flags from the build, a 3 GB
    heap, temp files under the run's own directory, JVM log lines on
    stderr so stdout carries only results."""
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opens = lines[0], lines[1:]
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    return (["java"] + jvm_opens + extra + [
        "-Xmx3g", "-XX:-UsePerfData", "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={tmp_dir}",
        "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main"])


def build(env):
    digest = sources_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("building engine and harness with sbt")
    sbt = shutil.which("sbt")
    if sbt is None:
        sys.exit("perfbench: sbt not found")
    for stale in (LAUNCH, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    code, _ = run_child([sbt, "-batch", "compile", "writeLaunch"], HERE, env, BUILD_TIMEOUT_S,
                        stdout=sys.stderr)
    if code != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"perfbench: build failed (sbt exit {code})")
    # One small traced run of every workload, archiving the classes it
    # loads; measured runs map the archive instead of loading the Spark
    # and engine classes one by one, which saves seconds of start-up.
    log("training run for the class-data archive")
    train_dir = os.path.join(BUILD, "runs", f"train-pid{os.getpid()}")
    try:
        code, _ = run_child(java_cmd([f"-XX:ArchiveClassesAtExit={ARCHIVE}"], train_dir)
                            + ["--train", os.path.join(train_dir, "data")],
                            ROOT, env, BUILD_TIMEOUT_S, stdout=sys.stderr)
    finally:
        shutil.rmtree(train_dir, ignore_errors=True)
    if code != 0:
        sys.exit(f"perfbench: training run failed (exit {code})")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SOURCES, "graft")):
        sys.exit(f"perfbench: engine sources not found under {ENGINE_SOURCES}")
    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-pid{os.getpid()}"
    work_dir = os.path.join(BUILD, "runs", tag)
    cmd = java_cmd([f"-XX:SharedArchiveFile={ARCHIVE}"], work_dir) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--work-dir", os.path.join(work_dir, "data")]
    if args.trace == "1":
        cmd += ["--trace-out", os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")]
    try:
        code, out = run_child(cmd, ROOT, env, RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    text = out.decode()
    lines = [l for l in text.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith('{"correct":'):
        sys.stderr.write(text)
        sys.exit(f"perfbench: harness failed (exit {code})")
    sys.stdout.write(text)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
