#!/usr/bin/env python3
"""Repository benchmark: builds the engine from source, runs one workload
in a fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload md_session --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run compiles src/main/scala
together with the harness in perfbench/scala into .bench_build/ (about
half a minute); later runs reuse that build while the sources are
unchanged. The first analytics_sf01 run also generates that workload's
fixed input tables into .bench_build/ (about fifteen seconds, in a JVM
of its own); later runs only read them. Workload state lives in
.bench_state/ and is removed when the run ends; the raw result and, for
traced runs, the span trace are kept in .bench_out/.

The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The line before it carries every end-to-end figure of the run, including
the workload-specific percentiles (reported only where at least ten
samples lie beyond them, with their sample counts).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
STATE_DIR = os.path.join(ROOT, ".bench_state")
OUT_DIR = os.path.join(ROOT, ".bench_out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars to build and run against: $SPARK_HOME/jars if set,
    else the directory the project's build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                              f.read())
        except OSError:
            m = None
        if not m:
            fail("no Spark jars: set SPARK_HOME or run from the repository "
                 "root (build.sbt names them)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars in " + jars)
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "scala")]
    if not os.path.isdir(roots[0]):
        fail("engine sources not found under src/main/scala; "
             "run from the repository root")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compiles engine and harness with the Scala compiler shipped in the
    Spark distribution; skipped when the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    if not compiler:
        fail("no scala-compiler jar in " + jars)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = ":".join([compiler[0]] + sorted(
        glob.glob(os.path.join(jars, "scala-library-*.jar")) +
        glob.glob(os.path.join(jars, "scala-reflect-*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp,
           "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    rc, log = run_logged(cmd, os.path.join(BUILD_DIR, "build.log"), ROOT,
                         BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(log[-4000:])
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(key)
    return classes


def analytics_data(classes, jars):
    """The analytics_sf01 tables: fixed content, independent of the seed,
    generated once by the harness's generator and then only read. The
    directory name follows the generator's source, so a changed generator
    gets fresh tables."""
    with open(os.path.join(HERE, "scala", "perfbench", "Analytics.scala"),
              "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    data = os.path.join(BUILD_DIR, "analytics-" + key)
    if os.path.isdir(data):
        return data
    state = fresh_state("generate")
    tmp = data + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    cmd = java_command(classes, jars, state, [
        "--workload", "analytics_sf01", "--seed", "0", "--seconds", "0",
        "--generate", tmp])
    print("perfbench: generating the analytics tables", file=sys.stderr)
    try:
        rc, log = run_logged(cmd, os.path.join(OUT_DIR, "generate.log"),
                             state, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(state, ignore_errors=True)
    if rc != 0:
        sys.stderr.write(log[-4000:])
        fail("generating the analytics tables failed")
    os.rename(tmp, data)
    return data


def run_logged(cmd, log_path, cwd, timeout):
    """Runs cmd in its own process group with output to log_path; kills
    the group on timeout and always waits for it to end."""
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = -1
    with open(log_path) as f:
        return rc, f.read()


def java_command(classes, jars, state, args):
    """The harness JVM: UTC, temp files inside the state directory."""
    return (["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC",
             "-XX:-UsePerfData", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
             "-Djava.io.tmpdir=" + os.path.join(state, "tmp"),
             "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"] +
            [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            ["-cp", classes + ":" + os.path.join(jars, "*"), "perfbench.Main",
             "--cpus", str(len(os.sched_getaffinity(0))), "--state", state,
             "--hashes", os.path.join(HERE, "analytics_hashes.json")] +
            list(args))


def fresh_state(tag):
    state = os.path.join(STATE_DIR, tag)
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(os.path.join(state, "tmp"))
    return state


def run_harness(classes, jars, workload, seed, seconds, trace):
    tag = "%s-%d-%d" % (workload, seed, os.getpid())
    state = fresh_state(tag)
    os.makedirs(OUT_DIR, exist_ok=True)
    out = os.path.join(OUT_DIR, "%s-%d-trace%d.json" % (workload, seed, trace))
    if os.path.exists(out):
        os.remove(out)
    extra = []
    if workload == "analytics_sf01":
        extra = ["--data", analytics_data(classes, jars)]
    cmd = java_command(classes, jars, state, [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--out", out] +
        extra)
    try:
        rc, log = run_logged(cmd, os.path.join(OUT_DIR, tag + ".log"), state,
                             RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(state, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(log[-4000:])
        fail("harness exited with %d" % rc)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(metrics.WORKLOADS) +
                    sorted(metrics.EXTRA_WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    jars = spark_jars()
    classes = build(jars)
    raw = run_harness(classes, jars, a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps({"report": {
        "workload": a.workload, "seed": a.seed, "cpus": raw["cpus"],
        "cycles": raw["cycles"], "measure_s": raw["measure_s"],
        "metrics": metrics.report(raw)}}))
    print(json.dumps(metrics.output_line(raw, a.trace == 1)))


if __name__ == "__main__":
    main()
