#!/usr/bin/env python3
"""Request-path benchmark of the graft engine.

Run from the root of a checkout:

    python3 reqbench/run.py --workload small_reads --seed 1 --seconds 30 --trace 0

The first run builds the engine and the benchmark from source with sbt
(offline, from the local dependency cache) into reqbench/target, and any
run rebuilds them when their sources have changed since. Every run
then starts one JVM that replays a seeded request stream through
GraphEngine (see reqbench/METRICS.md) and prints, as the last line of
standard output, one JSON object: correct, attempted, failed and metrics.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
# digest of the sources the classes in reqbench/target were built from
DIGEST = os.path.join(BENCH, "target", "sources.sha256")
WORK = os.path.join(BENCH, "work")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# JDK 17 module opens Spark needs outside spark-submit (the engine's build
# passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"reqbench: {msg}", file=sys.stderr)
    sys.exit(2)


def declared_metrics():
    """(end_to_end, per_layer) metric declarations from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m for m in spec["end_to_end"]},
            {m["name"]: m for m in spec["per_layer"]})


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    # no hsperfdata files in the system temp dir, from any JVM sbt starts
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    return env


def source_digest():
    """SHA-256 over every file the build compiles or reads, so a checkout of
    other sources is rebuilt even when reqbench/target survives it."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for path in files:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(DIGEST):
        with open(DIGEST) as f:
            if f.read().strip() == digest:
                return
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    for stale in (CLASSPATH, DIGEST):
        if os.path.exists(stale):
            os.remove(stale)
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build took over {BUILD_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(DIGEST, "w") as f:
        f.write(digest + "\n")


def run_jvm(args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # The engine's default heap limit (build.sbt); the heap grows as the
    # program needs it, so peak RSS follows what it allocates.
    cmd = ["java", "-Xmx8g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run took over {RUN_TIMEOUT_S} s")
    finally:
        if args.trace:
            trace_file = os.path.join(work, f"trace-{args.workload}-{args.seed}.json")
            if os.path.exists(trace_file):
                shutil.copy(trace_file, WORK)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited {proc.returncode}")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if len(lines) < 2:
        fail("benchmark JVM printed no result")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "engine")):
        fail("engine sources (src/main/scala/graft) not found next to reqbench/")
    end_to_end, per_layer = declared_metrics()
    build()
    samples, result = run_jvm(args)

    wanted = per_layer if args.trace else end_to_end
    got = result["metrics"]
    bad = [n for n in got if n not in wanted or not NAME.match(n)]
    missing = [n for n in wanted if n not in got]
    if bad or missing:
        fail(f"undeclared metrics {bad}, missing metrics {missing}")
    for name, m in got.items():
        if m["unit"] != wanted[name]["unit"] or not isinstance(m["value"], (int, float)):
            fail(f"metric {name} has unit {m['unit']} value {m['value']}")
    print(json.dumps(samples))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
