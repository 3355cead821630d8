#!/usr/bin/env python3
"""Repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine from
source together with the benchmark (sbt project in perfbench/) and caches
the classpath under .bench_build/; later runs start the JVM directly. The
last line of stdout is the result JSON; the lines above it state the run
conditions and every end-to-end metric under the workload's own names.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(WORK, "classpath.json")
JSA = os.path.join(WORK, "classes.jsa")
TMP = os.path.join(WORK, "tmp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# Heap of the benchmark JVM, which runs the Spark driver and, in local mode,
# the executors.
HEAP = "3g"

# As in the root build: Spark on JDK 17 outside spark-submit needs these.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build compiles, with its modification time."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    out = {}
    for r in roots:
        if os.path.isfile(r):
            out[r] = os.path.getmtime(r)
        for d, _, fs in os.walk(r):
            for f in fs:
                p = os.path.join(d, f)
                out[p] = os.path.getmtime(p)
    return out


def java_cmd(cp, flags, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={TMP}", "-Dspark.ui.enabled=false",
           # JVM log lines go to stderr: stdout carries the result
           "-Xlog:disable", "-Xlog:all=warning:stderr"] + flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + args + ["--work", WORK]


def run_env():
    nproc = str(len(os.sched_getaffinity(0)))
    return dict(os.environ, SPARK_GRAFT_CPUS=nproc, SPARK_LOCAL_DIRS=os.path.join(TMP, "spark-local"))


def classpath():
    """Builds when the sources changed since the cached build."""
    src = sources()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            cached = json.load(f)
        if cached.get("sources") == src:
            return cached["classpath"]
    print("perfbench: building (sbt compile)", file=sys.stderr)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspathAsJars"]
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1]
    if os.path.exists(JSA):
        os.remove(JSA)
    with open(STAMP, "w") as f:
        json.dump({"sources": src, "classpath": cp}, f)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine sources (src/main/scala/graft) are not in this checkout")
    os.makedirs(TMP, exist_ok=True)
    # A run deletes its own temporary root; one that was killed cannot.
    for d in glob.glob(os.path.join(WORK, "run-*")):
        shutil.rmtree(d, ignore_errors=True)
    cp = classpath()
    # A class-data-sharing archive of the classes a run loads roughly halves
    # JVM and Spark start-up. The first run after a build writes it as it
    # exits; every later run maps it.
    flags = [f"-XX:SharedArchiveFile={JSA}" if os.path.exists(JSA) else f"-XX:ArchiveClassesAtExit={JSA}"]
    cmd = java_cmd(cp, flags, ["--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", a.trace])
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=run_env(), stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {proc.returncode} and no result line")
    result = json.loads(lines[-1])
    want = {m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]}
    if set(result["metrics"]) != want:
        fail(f"metrics {sorted(set(result['metrics']) ^ want)} differ from BENCHMARK.json")
    for l in lines[:-1]:
        print(l)
    print(f"perfbench: run took {time.time() - t0:.1f} s", file=sys.stderr)
    print(lines[-1])


if __name__ == "__main__":
    main()
