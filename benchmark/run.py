#!/usr/bin/env python3
"""Benchmark of the graft engine: one command per workload run.

    python3 benchmark/run.py --workload pipeline_sf01 --seed 1 --seconds 30 --trace 0

Run from the repository root. It compiles the engine (src/main/scala) and
the harness (benchmark/harness) with the Scala compiler shipped in
Spark's jars, runs one JVM, checks every result and prints each metric by
name and unit. The last stdout line is one JSON object: {"correct",
"attempted", "failed", "metrics"}. With --trace 0 the metrics are the
end-to-end ones, with --trace 1 the per-layer ones.

Everything it writes lives under .bench_build/ at the repository root:
compiled classes and DuckDB oracle answers (kept, keyed by their
inputs), and one working directory per run (removed when the run ends).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import metrics  # noqa: E402
import checks  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def from_repo(path, pattern):
    """First group of `pattern` in a repository file, or None."""
    try:
        with open(os.path.join(ROOT, path)) as f:
            m = re.search(pattern, f.read())
    except OSError:
        return None
    return m.group(1) if m else None


# Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt names
SPARK_JARS = (os.path.join(os.environ["SPARK_HOME"], "jars") if "SPARK_HOME" in os.environ
              else from_repo("build.sbt", r'unmanagedBase\s*:=\s*file\("([^"]+)"\)'))
# the sf0.1 fixture both workloads read, as TESTDATA.md lists it
SF01 = os.environ.get("GRAFT_BENCH_SF01") or from_repo(
    "TESTDATA.md", r"\|\s*0\.1\s*\|\s*`([^`]+?)/?`")
HEAP = "4g"
RUN_TIMEOUT_S = 170

WORKLOADS = ("pipeline_sf01", "lake_rw")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources(d):
    return glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)


def scalac(srcs, out, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + sorted(srcs)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    os.replace(tmp, out)


def build():
    """Compile the engine and the harness; reuse them while their sources
    are unchanged."""
    engine_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    harness_src = sources(os.path.join(HERE, "harness"))
    if not engine_src:
        raise SystemExit("benchmark: no engine sources under src/main/scala; "
                         "run from the repository root")
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"benchmark: Spark jars not found ({SPARK_JARS}); set SPARK_HOME")
    jars = os.path.join(SPARK_JARS, "*")
    engine_fp = fingerprint(engine_src)
    engine = os.path.join(BUILD, "classes", "engine-" + engine_fp)
    if not os.path.isdir(engine):
        log(f"compiling {len(engine_src)} engine sources")
        scalac(engine_src, engine, jars)
    harness_fp = fingerprint(harness_src + engine_src)
    harness = os.path.join(BUILD, "classes", "harness-" + harness_fp)
    if not os.path.isdir(harness):
        log("compiling the benchmark harness")
        scalac(harness_src, harness, os.pathsep.join([engine, jars]))
    return [harness, engine, jars], engine_fp


def java_cmd(classpath, run_dir, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dgraft.lake.warehouse={os.path.join(run_dir, 'warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-cp", os.pathsep.join(classpath), main] + args)


def commit():
    """The checked-out commit, or None outside a git work tree (the engine
    source fingerprint identifies the code either way)."""
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def run_jvm(classpath, run_dir, args, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(java_cmd(classpath, run_dir, "graftbench.Main", args),
                             stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"benchmark: harness JVM ended with {code}")
    with open(os.path.join(run_dir, "run.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S
    cores = len(os.sched_getaffinity(0))

    classpath, engine_fp = build()
    if not SF01 or not os.path.isdir(SF01):
        raise SystemExit(f"benchmark: sf0.1 input ({SF01}) not found; set GRAFT_BENCH_SF01")
    # the build is not part of a run
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 20)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", SF01, "--out", run_dir,
                "--cores", str(cores)]
        run = run_jvm(classpath, run_dir, args, deadline)
        check = checks.check_results(run, run_dir, SF01, os.path.join(BUILD, "oracle"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    env = {"commit": commit(), "source_fingerprint": engine_fp, "cores": cores, "heap": HEAP,
           "sf": "0.1",
           "jvm": run["info"]["jvm"], "spark": run["info"]["spark"], "seed": a.seed,
           "workload": a.workload, "seconds": a.seconds, "trace": a.trace}
    result = metrics.compute(run, check, traced=bool(a.trace), cores=cores)
    print("env " + json.dumps(env, sort_keys=True))
    for k, v in result["detail"].items():
        print(f"detail {k} " + json.dumps(v, sort_keys=True))
    for name, m in result["metrics"].items():
        print(f"{name:32s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
