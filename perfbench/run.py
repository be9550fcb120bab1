#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload cdc_serving --seed 1 --seconds 30 --trace 0

Builds the engine and the benchmark harness from source on first use (an sbt
project of its own in this directory, compiling ../src/main with the harness),
then runs the harness JVM. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Everything the run writes stays under <repo>/.perfbench/: inputs, tables and
Spark temporary files go to a per-run work directory that is deleted afterwards; the
per-run summary JSON goes to .perfbench/out/.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
CLASSPATH = os.path.join(HERE, "target", "bench.classpath")
WORKLOADS = ("cdc_serving", "llm_corpus")
# A run must end within 180 s; the harness JVM is stopped before that.
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 840.0

ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
    )
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        if os.path.isfile(root):
            newest = max(newest, os.path.getmtime(root))
        for d, _, files in os.walk(root):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile with sbt when the sources are newer than the last build."""
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH; it is needed to build the engine and the harness")
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
                       + " -Djava.io.tmpdir=" + tmp)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use a tiny scale)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    cp = build()

    work = os.path.join(STATE, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--scale", str(a.scale),
           "--work", work, "--out", os.path.join(STATE, "out")]
    proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True)
    deadline = time.monotonic() + RUN_LIMIT_S
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die("run exceeded %.0f s and was stopped" % RUN_LIMIT_S, 3)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for line in lines[:-1] if result else lines:
        print(line)
    if result is None:
        die("the harness printed no result (exit code %d)" % proc.returncode, 4)
    print(result, flush=True)
    sys.exit(0 if proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
