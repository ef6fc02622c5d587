#!/usr/bin/env python3
"""The repo benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (once per
checkout; later runs reuse the build while the sources are unchanged),
then starts one JVM that sets up, measures for --seconds seconds,
checks every output and prints, as the last line of stdout, one JSON
object with the keys correct, attempted, failed and metrics.

    python3 perfbench/run.py --expect query
    python3 perfbench/run.py --expect ingest

regenerate perfbench/expected/query_sf0.001.json (every registered
query) and expected/ingest.json from the current sources. Run the query
form twice: the second invocation compares hashes with the first and
marks a hash that did not repeat as unstable.

Everything the benchmark builds or writes stays inside the checkout,
under .bench_build/perfbench/ (and sbt's own target/ dirs).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".bench_build", "perfbench")
WORKLOADS = ("query_fixedcost", "ingest")
# the engine's source inputs; a checkout without them cannot be benchmarked
NEEDED = ("build.sbt", "project/build.properties", "src/main/scala", "tools/gen_sf.py")
JVM_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840
# Spark 4 on JDK 17 outside spark-submit (the same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Fixed task slots: figures and result hashes do not depend on the
# host's core count.
SLOTS = "4"
# A fixed, pre-touched heap: peak RSS then moves with off-heap and
# native memory, not with when the collector chose to grow the heap
# (which alone moved it by a quarter between runs).
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    roots += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p[len(REPO):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt(*tasks):
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    try:
        out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                             cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                             capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"sbt {' '.join(tasks)} timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail(f"sbt {' '.join(tasks)} failed")
    return out.stdout


def classpath():
    """Builds once per source fingerprint; returns the runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    cp_file = os.path.join(STATE, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_fp, cp = f.read().split("\n", 1)
        if saved_fp == fp:
            return cp.strip()
    lines = sbt("compile", "export Runtime/fullClasspath").strip().splitlines()
    cp = [l for l in lines if not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


def jvm(cp, work, main_args, timeout=JVM_TIMEOUT_S):
    """Runs the harness JVM in `work`; returns its stdout lines."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           *HEAP, f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dderby.system.home=" + work,
           "-cp", cp, "perfbench.Main", *main_args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=SLOTS)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            out = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                 stdout=subprocess.PIPE, stderr=log, text=True,
                                 timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"the benchmark JVM did not finish within {timeout} s")
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if out.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the benchmark JVM exited with {out.returncode}")
    return out.stdout.strip().splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expect", choices=("query", "ingest"))
    a = ap.parse_args()
    if not a.expect and not a.workload:
        ap.error("--workload or --expect is required")
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        fail(f"not a checkout of the engine: missing {', '.join(missing)}")

    cp = classpath()
    if a.expect:
        work = os.path.join(STATE, f"expect-{a.expect}")
        shutil.rmtree(work, ignore_errors=True)
        jvm(cp, work, ["expect", a.expect, REPO, work], timeout=None)
        shutil.rmtree(work, ignore_errors=True)
        return

    work = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    launch_ms = int(time.time() * 1000)
    lines = jvm(cp, work, ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
                           REPO, work, str(launch_ms)])
    result = json.loads(lines[-1])
    if a.trace:
        traces = os.path.join(STATE, "traces")
        os.makedirs(traces, exist_ok=True)
        name = f"trace-{a.workload}-{a.seed}.json"
        shutil.move(os.path.join(work, name), os.path.join(traces, name))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
