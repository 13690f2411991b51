#!/usr/bin/env python3
"""Runs one benchmark workload against the graft sources of this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first call builds the benchmark
(graft's main sources plus the harness in perfbench/src) with sbt; later
calls reuse the build while no source has changed. The measuring process is
one JVM on local[nproc]; its last stdout line is the result object. Spark is
taken from $SPARK_HOME, or else from the spark-submit found on PATH.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "bench-build.stamp")
WORK = os.path.join(HERE, "work")
BUILD_TIMEOUT = 800
RUN_TIMEOUT = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source file's path, size and content."""
    h = hashlib.sha256()
    for top in SOURCES:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark 4 distribution")
    return home


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run([sbt, "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, env=env,
                          timeout=BUILD_TIMEOUT, stdin=subprocess.DEVNULL)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["sentiment_mllib", "curation_registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from the root of a checkout")
    build()

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", HERE]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, env=env,
                              timeout=RUN_TIMEOUT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(os.path.join(WORK, "corpus"), ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    out = proc.stdout.decode(errors="replace").rstrip("\n").splitlines()
    if proc.returncode != 0 or not out:
        sys.stderr.write("\n".join(out[-5:]) + "\n")
        fail(f"benchmark process exited with {proc.returncode}")
    result = json.loads(out[-1])
    want = expected_metrics(a.trace == 1)
    if list(result["metrics"]) != want:
        fail(f"metrics {sorted(result['metrics'])} do not match BENCHMARK.json {sorted(want)}")
    sys.stdout.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
