#!/usr/bin/env python3
"""Benchmark of the production tier run: TierRunner.ingest + TierRunner.run.

Run from the repository root:

    python3 runbench/run.py --workload full_rebuild --seed 1 --seconds 10 --trace 0
    python3 runbench/run.py --workload all [--seed 1] [--trace 0]
    python3 runbench/run.py --scaling [--seed 1] [--seconds 10]

The first call builds the benchmark together with the program's sources
(sbt, into runbench/target) and caches the classpath under .bench_build/.
Each call then runs one JVM on local[<cores>] that sets up the workload,
measures refreshes for --seconds, checks every refresh's tables, and
prints the metrics by name with their units. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(spans go to .bench_out/spans-<workload>-seed<seed>.json). --workload all
runs every workload in turn, many_series_zipf included. --scaling
times full_rebuild on 1 core and on 4 and prints scaling_eff_1to4; it is
not one of the gated runs.
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
PROGRAM = os.path.join(REPO, "src", "main", "scala")
BUILD = os.path.join(REPO, ".bench_build", "runbench")
WORK = os.path.join(REPO, ".bench_work")
OUT = os.path.join(REPO, ".bench_out")
WORKLOADS = ("full_rebuild", "incremental_2d", "many_series_zipf")
# Wall-clock budget of one call after the build.
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"runbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source the build compiles."""
    h = hashlib.sha256()
    for top in (PROGRAM, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home_from_path():
    """The Spark installation whose bin/spark-submit is on PATH and that
    ships its jars (a pip-installed spark-submit does not)."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    fail("no Spark installation found: set SPARK_HOME")


def classpath():
    """Build if the sources changed since the last build; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home_from_path()
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "runbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, args, work, limit_s):
    """Run the benchmark main; return (exit code, stdout lines)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "runbench.RunBench", "--work", work] + args
    proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        return 124, []
    return proc.returncode, out.splitlines()


def measure(cp, workload, seed, seconds, trace, limit_s, cores=None):
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace)]
    if trace:
        args += ["--spans", os.path.join(OUT, f"spans-{workload}-seed{seed}.json")]
    if cores:
        args += ["--cores", str(cores)]
    try:
        return run_jvm(cp, args, work, limit_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def scaling(cp, seed, seconds):
    """scaling_eff_1to4 = (t1 / t4) / 4 for full_rebuild refresh_s."""
    times = {}
    for cores in (1, 4):
        code, lines = measure(cp, "full_rebuild", seed, seconds, 0, 600, cores)
        result = json.loads(lines[-1]) if code == 0 and lines else None
        if not result or not result["correct"]:
            fail(f"scaling run on {cores} core(s) failed")
        times[cores] = result["metrics"]["refresh_s"]["value"]
        print(f"full_rebuild refresh_s on local[{cores}]: {times[cores]} s")
    eff = times[1] / times[4] / 4
    print(f"scaling_eff_1to4: {eff} ratio (t1={times[1]} s, t4={times[4]} s)")
    print(f"limit: the 2->8 and 4->16 core steps need 8 and 16 cores; "
          f"this machine has {os.cpu_count()}, so only 1->4 is measured")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(PROGRAM, "graft", "run", "TierRunner.scala")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM)}; "
             "run from a checkout of the repository")
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    cp = classpath()
    if a.scaling:
        scaling(cp, a.seed, a.seconds)
        return
    if not a.workload:
        fail("--workload is required")
    failed = []
    for workload in WORKLOADS if a.workload == "all" else (a.workload,):
        start = time.monotonic()
        if a.workload == "all":
            print(f"== {workload}")
        code, lines = measure(cp, workload, a.seed, a.seconds, a.trace, RUN_LIMIT_S)
        for line in lines:
            print(line)
        if code != 0:
            failed.append(f"{workload} (exit code {code})")
        print(f"runbench: {workload} took {time.monotonic() - start:.1f} s", file=sys.stderr)
    if failed:
        fail("failed: " + ", ".join(failed))


if __name__ == "__main__":
    main()
