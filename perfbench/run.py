#!/usr/bin/env python3
"""Benchmark of the catalog migrator and the Spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads, metrics and bounds are declared in BENCHMARK.json. The first run
compiles the program's main sources together with the harness (perfbench/
scala) through the benchmark's own sbt build; later runs reuse the classes
while the sources are unchanged. Each run starts one JVM with a local Spark
session (one thread per core), runs the workload's closed loop for at least
S seconds, checks every output, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones (metrics
of a layer the workload does not exercise read 0). The line before it is a
contention stamp: 1-minute load average and a fixed CPU canary timing,
before and after the run. Spans of a traced run are kept under
perfbench/runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 850.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless the classes match the sources."""
    want = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == want and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        # resolve only from local caches and the configured mirror list
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        die("build failed")
    with open(STAMP, "w") as fh:
        fh.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def canary_ms():
    """Median of five timings of a fixed CPU-bound task (SHA-256 of 4 MiB)."""
    buf = b"\x5a" * (1 << 20)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(4):
            h.update(buf)
        h.digest()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def stamp():
    return {"load1": loadavg(), "canary_ms": round(canary_ms(), 4)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        die("program sources (src/main/scala/graft) not found: run from a checkout root")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must point at the Spark runtime")
    spec = json.load(open(spec_path))
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        die(f"unknown workload {a.workload!r} (one of {', '.join(names)})")

    started = time.time()
    build()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", os.path.join(HERE, "data", "sf0.01"),
            "--out", result_path])
    before = stamp()
    budget = max(30.0, RUN_LIMIT_S - (time.time() - started))
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp")))
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    after = stamp()

    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: workload JVM {'timed out' if rc is None else f'exited {rc}'}",
              file=sys.stderr)
        sys.exit(1)

    res = json.load(open(result_path))
    runs = os.path.join(HERE, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(runs, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if a.trace else "end_to_end"
    metrics, missing = {}, []
    for m in spec[section]:
        v = res[section].get(m["name"])
        if v is None:
            if a.trace:
                v = 0.0  # the workload does not exercise this layer
            else:
                missing.append(m["name"])
                continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    undeclared = sorted(set(res[section]) - {m["name"] for m in spec[section]})
    if undeclared:
        print(f"perfbench: metrics not in BENCHMARK.json: {undeclared}", file=sys.stderr)
    for n in res["notes"]:
        print(f"perfbench: {n}", file=sys.stderr)
    if missing:
        print(f"perfbench: missing metrics {missing}", file=sys.stderr)
    contention = {"stamp": {"before": before, "after": after,
                            "canary_ratio": round(after["canary_ms"] / before["canary_ms"], 4)}}
    with open(os.path.join(runs, f"{tag}.json"), "w") as fh:
        json.dump({"result": res, **contention}, fh)
    print(json.dumps(contention))
    attempted = max(1, int(res["attempted"]))
    failed = int(res["failed"])
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
