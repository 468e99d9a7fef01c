#!/usr/bin/env python3
"""Benchmark entry point: builds the program from the checkout's sources,
runs one workload in one JVM, checks its outputs and prints one JSON line.

    python3 perfbench/run.py --workload daily_backfill --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Exits non-zero, without that line, when the program cannot be built or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

STARTED = time.time()  # set-up time counts from the process's start

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

ROOT = os.path.dirname(HERE)
# the workloads and metrics are the ones BENCHMARK.json at the root names
SPEC_FILE = os.path.join(ROOT, "BENCHMARK.json")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "bench-classpath.txt")

# JDK 17 module openings Spark needs outside spark-submit (the list Spark's
# launcher passes, as in the program's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"           # -Xms = -Xmx: a fixed heap keeps GC pacing alike across runs
RUN_LIMIT_S = 170     # a run (after any build) ends within this


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compiles program + benchmark once per source state; returns the classpath."""
    newest = max(os.path.getmtime(p) for p in sources())
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest:
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "bench-build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail("build failed")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def run_jvm(classpath, args, work, deadline, launched_ms):
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--launched-ms", str(launched_ms)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
        fail(f"benchmark JVM ended with {rc}")
    with open(result) as f:
        return json.load(f)


def main():
    if not os.path.isfile(SPEC_FILE):
        fail(f"no {os.path.relpath(SPEC_FILE)}: run from a checkout root")
    with open(SPEC_FILE) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC)}: run from a checkout root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the program")
    t = time.time()
    classpath = build()
    # a build happens once per checkout and is not the benchmark's set-up
    launched_ms = int((STARTED + (time.time() - t)) * 1000)
    deadline = time.time() + RUN_LIMIT_S

    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_jvm = time.time()
        res = run_jvm(classpath, args, work, deadline, launched_ms)
        t_check = time.time()
        problems = checks.run(work)
        print(f"perfbench: jvm {t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s, "
              f"iterations {[round(x, 3) for x in res['iteration_s']]} s, "
              f"end-to-end {json.dumps(res['end_to_end'])}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)

    if args.trace:
        # a layer the workload does not exercise reads 0 (README "Per-layer metrics")
        wanted, source = spec["per_layer"], res["per_layer"]
        values = {m["name"]: source.get(m["name"], 0.0) for m in wanted}
    else:
        wanted, source = spec["end_to_end"], res["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in source]
        if missing:
            fail(f"the benchmark JVM measured no {missing}")
        values = {m["name"]: source[m["name"]] for m in wanted}
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
