#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the benchmark
program from source with sbt (perfbench/build.sbt) and caches the runtime
classpath; later runs reuse it until a source or build file changes. Each
run then starts one JVM with a local Spark session of `nproc` cores, which
sets up the workload, runs it closed-loop for `--seconds`, checks every
output and prints the metrics. `--trace 1` makes two such runs of the same
seed, untraced and then traced, each measuring half of `--seconds`, and
reports the traced run's per-layer metrics plus the tracing overhead
between the two. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. The exit code
is 0 only when every output check passed.

Everything the run writes stays under the checkout: build output in
perfbench/target and target/, run state in .perfbench/ (removed at exit
except the traced runs' span files in .perfbench/traces/).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("incremental_ingest", "neardup_stream")
RUN_LIMIT_S = 170  # all JVM runs of one call, excluding the build, end within 180 s
# A fixed, pre-touched heap: steady batch times from the first step, and
# a resident set whose heap part is constant, so the native part shows.
HEAP = "2g"
# The client-tier JIT only. A run's JVM lives about a minute; with tiered
# compilation the optimizing compiler was still compiling Spark's planning
# and scheduling code through the measured steps, so each run's first
# measured steps ran slower than its later ones and a run's speed followed
# how much CPU the compiler threads got. C1-compiled code is steady after
# the warm-up steps (and, at this size, was faster end to end).
JIT = ["-XX:TieredStopAtLevel=1"]
# Spark on JDK 17 outside spark-submit needs these (the same list graft's
# own build passes to its forked JVMs).
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


def build_inputs(root):
    """Every file whose change requires a rebuild."""
    files = [os.path.join(root, p) for p in (
        "build.sbt", "project/build.properties",
        "perfbench/build.sbt", "perfbench/project/build.properties")]
    for src in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(root, src)):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(root):
    """Compile with sbt unless the cached classpath matches the sources."""
    bench = os.path.join(root, "perfbench")
    cp_file = os.path.join(bench, "target", "classpath.txt")
    stamp_file = os.path.join(bench, "target", "build.stamp")
    h = hashlib.sha256()
    for f in build_inputs(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(root, ".perfbench", "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "writeClasspath"],
            cwd=bench, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cf:
        return cf.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/api/Deduplicator.scala",
                 "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout ({need} is missing)")
    os.makedirs(os.path.join(root, ".perfbench", "traces"), exist_ok=True)
    classpath = build(root)

    started = time.monotonic()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()

    def run_jvm(trace, seconds):
        """One JVM run of the workload and its result."""
        work = os.path.join(root, ".perfbench",
                            f"run-{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *JIT,
                "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
                "-Dspark.ui.enabled=false"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graft.perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(seconds), "--trace", str(trace),
                  "--work", work, "--cores", str(cores),
                  "--traces", os.path.join(root, ".perfbench", "traces")])
        err_path = os.path.join(root, ".perfbench",
                                f"jvm-{args.workload}-{args.seed}-{trace}.log")
        results = []

        def relay(stream):
            for line in stream:
                if line.startswith("PERFBENCH_RESULT "):
                    results.append(json.loads(line[len("PERFBENCH_RESULT "):]))
                else:
                    sys.stdout.write(line)
                    sys.stdout.flush()

        with open(err_path, "w") as err:
            child = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                     stderr=err, stdin=subprocess.DEVNULL,
                                     text=True, start_new_session=True)
            reader = threading.Thread(target=relay, args=(child.stdout,))
            reader.start()
            try:
                child.wait(timeout=max(1.0, started + RUN_LIMIT_S - time.monotonic()))
            except subprocess.TimeoutExpired:
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
                results.clear()
                print("perfbench: run exceeded its time limit", file=sys.stderr)
            reader.join()
        shutil.rmtree(work, ignore_errors=True)
        if not results:
            with open(err_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail("the run ended without a result", code=3)
        result = results[-1]
        result["correct"] = result["correct"] and child.returncode == 0
        return result

    if args.trace:
        # The tracing overhead is the traced run's median batch latency
        # minus that of an untraced run of the same seed, made first. The
        # two share the window, so a traced call ends within the run limit.
        half = max(1, (args.seconds + 1) // 2)
        plain = run_jvm(0, half)
        traced = run_jvm(1, half)
        overhead = (traced["e2e"]["batch_p50_s"]["value"]
                    - plain["e2e"]["batch_p50_s"]["value"])
        print(f"   {'trace.overhead_s':<40} {overhead:.6g} s")
        metrics = dict(traced["layers"])
        metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
        runs = (plain, traced)
    else:
        runs = (run_jvm(0, args.seconds),)
        metrics = runs[0]["e2e"]
    result = {"correct": all(r["correct"] for r in runs),
              "attempted": sum(r["attempted"] for r in runs),
              "failed": sum(r["failed"] for r in runs),
              "metrics": metrics}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
