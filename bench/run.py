#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 bench/run.py --workload <ingest|serve> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the library and the harness from this checkout on first use
(sbt, bench/build.sbt), launches one JVM for the run with every
scratch path (JVM tmpdir, Spark local and warehouse dirs) under a
per-run directory in bench/.run/, checks the outputs (inside the JVM,
after the timed window), deletes the scratch directory and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

It exits 1 when an output check fails and 2 when the run cannot run
(no library sources, build or JVM failure). See bench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
DEADLINE_S = 170  # the whole run, build excluded
# The JVM's timed work must end this long before the deadline, leaving
# room for the output checks, Spark's shutdown and the cleanup.
CHECK_RESERVE_S = 30
BUILD_DEADLINE_S = 840

# Per-layer metric prefixes that belong to one workload only. A traced
# run must produce every declared per-layer metric except those of the
# other workloads' prefixes, which read 0; the remaining prefixes
# (spark., layer., core., trace.) apply to every workload.
WORKLOAD_LAYERS = {
    "ingest": ("jobs.", "sinks.", "streaming."),
    "serve": ("analytics.",),
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        yield f


def build():
    """Compile once per checkout; rebuild when a source is newer."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise RuntimeError("no library sources next to the benchmark")
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building (sbt compile) ...")
    t0 = time.time()
    run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
              cwd=HERE, env=env, timeout=BUILD_DEADLINE_S)
    if not os.path.exists(CLASSPATH):
        raise RuntimeError("build wrote no classpath")
    log(f"built in {time.time() - t0:.1f}s")


def run_group(cmd, cwd, env, timeout):
    """Run `cmd` in its own process group (stdout to our stderr), kill the
    whole group on timeout, and wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"{cmd[0]} timed out after {timeout}s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if rc != 0:
        raise RuntimeError(f"{cmd[0]} exited {rc}")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, scratch, out, deadline):
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = [java]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={scratch}/tmp",
        f"-Dspark.local.dir={scratch}/local",
        f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
        f"-Dderby.system.home={scratch}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.bench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores()), "--scratch", scratch, "--out", out,
        "--budget", f"{deadline - time.time() - CHECK_RESERVE_S:.1f}",
    ]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    env["SPARK_LOCAL_DIRS"] = f"{scratch}/local"
    run_group(cmd, cwd=scratch, env=env, timeout=max(10, deadline - time.time()))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise RuntimeError(f"unknown workload {args.workload}")
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    build()
    t0 = time.time()
    scratch = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        out = os.path.join(scratch, "result.json")
        run_jvm(args, scratch, out, t0 + DEADLINE_S)
        with open(out) as f:
            res = json.load(f)
        failures = list(res["failures"])
    finally:
        if not os.environ.get("BENCH_KEEP_SCRATCH"):
            shutil.rmtree(scratch, ignore_errors=True)
    for msg in failures:
        log(f"CHECK FAILED: {msg}")

    foreign = tuple(p for w, ps in WORKLOAD_LAYERS.items()
                    if w != args.workload for p in ps)
    metrics = {}
    for m in declared:
        got = res["metrics"].get(m["name"])
        if args.trace and m["name"].startswith(foreign):
            value = 0.0  # a metric of another workload's layers
        elif got is None or got["value"] is None:
            raise RuntimeError(f"metric {m['name']} not measured")
        else:
            value = got["value"]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if args.trace:
        log("per-layer breakdown (traced half of the window):")
        for k in sorted(res["metrics"]):
            v = res["metrics"][k]
            log(f"  {k:48s} {v['value']!s:>24} {v['unit']}")
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    # on SIGTERM, unwind so the JVM's process group is killed and the
    # scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # no result line: the run could not run
        log(f"error: {e}")
        sys.exit(2)
