#!/usr/bin/env python3
"""Run one graftbench workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload corpus_curate --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds graft and the bench with sbt
when their sources changed since the last build (the build output stays
under perfbench/target), then starts one JVM for the measured run. The JVM
prints the full run record on the line before the result; the record is
also kept in perfbench/target/records/. Exits non-zero, without a result,
when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
CLASSPATH = TARGET / "bench-classpath.txt"
JAVA_OPTIONS = TARGET / "bench-java-options.txt"
STAMP = TARGET / "bench-build.stamp"
WORKLOADS = ("corpus_curate", "index_churn", "semantic_query")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

def fail(msg, code=2):
    print("run.py: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        yield from sorted(p for p in base.rglob("*") if p.is_file())
    yield HERE / "build.sbt"
    yield HERE / "project" / "build.properties"


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit:
        return str(Path(submit).resolve().parent.parent)
    fail("no Spark install: set SPARK_HOME")


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(env):
    stamp = source_stamp()
    outputs = (CLASSPATH, JAVA_OPTIONS)
    if all(p.exists() for p in outputs) and STAMP.exists() and STAMP.read_text() == stamp:
        return
    print("run.py: building graft and the bench with sbt", file=sys.stderr)
    rc, _ = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "benchClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if rc != 0 or not all(p.exists() for p in outputs):
        fail("build failed" if rc is not None else "build timed out")
    STAMP.write_text(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("graft's sources (src/main/scala/graft) are not next to perfbench/")
    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)

    work = TARGET / "runs" / ("%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    records = TARGET / "records"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    records.mkdir(parents=True, exist_ok=True)
    record = records / ("%s-seed%d-trace%s.json" % (a.workload, a.seed, a.trace))
    java = str(Path(env["JAVA_HOME"]) / "bin" / "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, *JAVA_OPTIONS.read_text().split(),
           "-Djava.io.tmpdir=%s" % (work / "tmp"),
           "-Dlog4j2.configurationFile=%s" % (HERE / "log4j2.properties"),
           "-cp", CLASSPATH.read_text().strip(),
           "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", str(work), "--contract", str(ROOT / "BENCHMARK.json"),
           "--record", str(record)]
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                            stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail("run timed out after %d s" % RUN_TIMEOUT_S)
    lines = out.splitlines()
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    ok = isinstance(result, dict) and set(result) == RESULT_KEYS
    for line in lines[:-1] if ok else lines:
        print(line)
    if not ok:
        fail("run failed (exit %s) without a result" % rc, code=1)
    sys.stdout.flush()
    print(lines[-1])


if __name__ == "__main__":
    main()
