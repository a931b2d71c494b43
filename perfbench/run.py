#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload embed_local --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The first run compiles the library
sources together with the harness in perfbench/jvm (sbt, offline) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the build while
the sources are unchanged. Each run starts one JVM with a local[nproc - 1]
Spark session, measures the workload for --seconds, checks every output
outside the timed region and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full record of each run (samples, stamps, per-layer table, spans) is
appended to <build>/perfbench/results.jsonl; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

# JVM flags per workload. embed_local runs with the C1 compiler only: with
# C2, compiling took 7-14 s of thread time in every 5 s pipeline for the
# whole run, so pipelines sped up unit after unit and run medians spread
# 0.2-0.25. With C1 only, compiling takes 1-2 s a pipeline, which is no
# slower. query_mix keeps C2: C1 slowed its passes by 20-50 %.
JVM_FLAGS = {"embed_local": ["-XX:TieredStopAtLevel=1"], "query_mix": []}
WORKLOADS = tuple(JVM_FLAGS)
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{cmd[0]} exceeded {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("no Spark installation: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die(f"no Spark jars under {home}")
    return home, jars


def fingerprint(root):
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    for base in ("src/main", "perfbench/jvm/src", "perfbench/jvm/build.sbt",
                 "perfbench/jvm/project/build.properties"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out, spark_home):
    target = os.path.join(out, "target")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp = os.path.join(out, "build.stamp")
    fp = fingerprint(root)
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.isdir(classes):
        return classes
    log("building the library and the harness (sbt, offline)")
    env = dict(os.environ, PERFBENCH_TARGET=target, SPARK_HOME=spark_home,
               COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
    t0 = time.time()
    code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench", "jvm"),
                       env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.isdir(classes):
        die(f"build failed (exit {code})")
    with open(stamp, "w") as fh:
        fh.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, timeout=10,
                           capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", help="also append the run's record to this JSONL "
                    "file (the input format of perfbench/compare.py)")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "perfbench", "jvm", "build.sbt"))):
        die("run from the root of a graphemrapidsspark checkout "
            "(src/main/scala/graft and perfbench/jvm are missing)")
    data = os.path.join(root, "perfbench", "data")
    if not os.path.isdir(os.path.join(data, "sf0.01")):
        die("perfbench/data/sf0.01 is missing")

    build_root = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(root, build_root, "perfbench")
    os.makedirs(out, exist_ok=True)
    spark_home, jars = spark_jars()
    classes = build(root, out, spark_home)

    nproc = len(os.sched_getaffinity(0))
    # Spark compiles new classes for every query it runs, and the JIT
    # compiles them again: one core is left to the compiler and collector
    # threads (local[4] ran the pipeline slower than local[3] on 4 cores).
    cpus = max(1, nproc - 1)
    work = os.path.join(out, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a heap of fixed size: grown from the default initial heap, the
    # collector took a varying 2-6 s more CPU per pipeline
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", *JVM_FLAGS[a.workload], "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false",
           "-Dlog4j.configurationFile="
           + os.path.join(root, "perfbench", "jvm", "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--data", data, "--work", work,
            "--record", record_path]
    load_start = os.getloadavg()
    cmd += ["--spawn-ms", str(int(time.time() * 1000))]
    code = run_bounded(cmd, JVM_TIMEOUT_S, cwd=work, stdout=sys.stderr,
                       stderr=sys.stderr)
    if code != 0 or not os.path.exists(record_path):
        die(f"benchmark JVM failed (exit {code})")
    with open(record_path) as fh:
        record = json.load(fh)
    record.update(nproc=nproc, loadavg_start=load_start[0],
                  loadavg_end=os.getloadavg()[0], git_sha=git_sha(root),
                  seed=a.seed, spans=os.path.join(work, "spans.jsonl") if a.trace else None,
                  layers=os.path.join(work, "layers.tsv") if a.trace else None)
    for path in filter(None, (os.path.join(out, "results.jsonl"), a.results)):
        with open(path, "a") as fh:
            fh.write(json.dumps(record) + "\n")
    for name, m in record["metrics"].items():
        log(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    log(f"attempted {record['attempted']} failed {record['failed']} "
        f"fail_ratio {record['fail_ratio']} units {record['units']}")
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
