#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline); later runs reuse the build while the
sources are unchanged. The query workloads read the fixed input tables
in perfbench/fixtures. Each run starts one JVM
(Spark local[nproc]) that measures the workload for --seconds, checks
its outputs and prints one result object as the last line of stdout.
The exit code is 0 only when every output check passed.

    python3 perfbench/run.py --selftest
        checks the harness's failure accounting on planted failures.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
EXPECTED = os.path.join(HERE, "expected_digests.json")
CDS = os.path.join(WORK, "classes.jsa")

# workload -> directory of its input tables (None: no tables)
WORKLOADS = {"corpus_pipeline": os.path.join(HERE, "fixtures", "sf0.01"), "chat_session": None}

# run limits: a run must end within 180 s, its first build within 900 s
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile and package engine + harness unless the sources are
    unchanged, then record a class-data-sharing archive from a run of the
    harness's self-test (which must pass); return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read()
    # build.sbt takes the Spark jars from $SPARK_HOME/jars
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit") or fail("SPARK_HOME is not set"))))
    env = dict(os.environ, SPARK_HOME=spark_home, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true", "-Xmx3g"]))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "package",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S).returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (rc={rc}); see {log}")
    cp = cps[-1]
    # the archive only holds classes from jars, hence the packaged harness
    if os.path.exists(CDS):
        os.remove(CDS)
    r = java(cp, "perfbench.SelfTest", ["--work", WORK, "--cpus", str(cpus())],
             [f"-XX:ArchiveClassesAtExit={CDS}"])
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        fail("the harness self-test failed")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def cpus():
    return len(os.sched_getaffinity(0))


def java(cp, main, args, jvm=None):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if jvm is None:
        jvm = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    cmd = ["java"] + jvm + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # set-up time is counted from here, the launch of the JVM
    cmd += ["-cp", cp, main, "--t0-ms", str(int(time.time() * 1000))] + args
    # stdout is captured and re-printed so that the result stays last
    return subprocess.run(cmd, cwd=WORK, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                          text=True, timeout=RUN_TIMEOUT_S)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the root of a checkout of the engine: src/main/scala is missing")
    if not a.selftest and not a.workload:
        fail("--workload is required")
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    if a.selftest:
        r = java(cp, "perfbench.SelfTest", ["--work", WORK, "--cpus", str(cpus())])
        sys.stdout.write(r.stdout)
        sys.exit(r.returncode)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", WORKLOADS[a.workload] or "", "--work", WORK,
            "--cpus", str(cpus()), "--expected-digests", EXPECTED]
    try:
        r = java(cp, "perfbench.Main", args)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = r.stdout.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        sys.stdout.write(r.stdout)
        fail(f"the run printed no result (rc={r.returncode})")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
