#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload oltp --seed 1 --seconds 12 --trace 0

Builds graft plus the harness from source (once per source state, with the
sbt build in this directory), generates the seeded inputs (once per seed),
runs the workload in one JVM with Spark local[<cores>], and prints the
harness's comment lines followed by one JSON object as the last line:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1). Everything it writes
stays under perfbench/target, perfbench/project and perfbench/work.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
LIB_SRC = os.path.join(ROOT, "src", "main")

# star-schema scale of the generated inputs per workload (sf 0.1 is TPC-H's
# 150k customers / 1.5M orders / 50k documents times 0.1)
SCALE = {"oltp": None, "warehouse": 0.01}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (LIB_SRC, os.path.join(BENCH, "src")):
        files += sorted(p for p in glob.glob(os.path.join(top, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt (offline) and return the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true "
                        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                        "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx3g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                               stdout=subprocess.PIPE, stderr=out, text=True,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}", 3)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def inputs(seed, sf):
    """Seeded parquet inputs, generated once per (seed, scale)."""
    d = os.path.join(WORK, "data", f"seed{seed}-sf{sf}")
    if not os.path.isdir(d):
        sys.path.insert(0, BENCH)
        import datagen
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp, seed, sf)
        os.replace(tmp, d)
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "scala")):
        fail(f"no graft sources at {LIB_SRC}: run from a full checkout", 2)
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    sf = SCALE[a.workload]
    data = inputs(a.seed, sf) if sf else "-"

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cores = len(os.sched_getaffinity(0))
    trace_out = os.path.join(WORK, "trace", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap and young generation: GC work does not depend on
        # how far adaptive sizing has got in a run
        "-Xmx3g", "-Xms3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy",
        "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", run_dir,
        "--cores", str(cores), "--trace-out", trace_out]
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{a.workload} timed out, see {log}", 4)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    if p.returncode != 0 or not lines:
        fail(f"{a.workload} exited with {p.returncode}, see {log}", 5)
    for ln in lines[:-1]:
        print(ln)
    result = json.loads(lines[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sorted(m["name"] for m in spec["per_layer" if a.trace else "end_to_end"])
    if sorted(result["metrics"]) != names:
        fail(f"metric names {sorted(result['metrics'])} differ from BENCHMARK.json {names}", 6)
    for name, m in result["metrics"].items():
        v = m["value"]
        # null marks a metric without samples; an end-to-end metric is never 0
        if v is None or not math.isfinite(v) or (v == 0 and not a.trace):
            fail(f"metric {name} = {v} in {result}", 6)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
