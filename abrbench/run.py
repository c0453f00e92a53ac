#!/usr/bin/env python3
"""Benchmark of the weekly ABR pipeline.

Run from the root of a checkout:

    python3 abrbench/run.py --workload weekly_run --seed 1 --seconds 10 --trace 0

The first run builds the library and the benchmark from source with sbt
(offline, Spark jars from $SPARK_HOME/jars); later runs reuse the build.
The JVM's last stdout line, one JSON object, is printed as this
script's last line. Exits non-zero without a result when the build or the
run fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("weekly_run", "high_churn", "lake_queries", "versioned_merge")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"abrbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every source the build compiles, to reuse a build."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "src", "main", "scala"),
                os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                           for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless this exact source tree is already built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found; "
             "run from the root of a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    stamp = os.path.join(BUILD, "built.sha256")
    digest = sources_digest()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if (os.path.isfile(stamp) and open(stamp).read() == digest
            and os.path.isdir(classes)):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.server.forcestart=false", "compile"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=600)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution with jars/")
    classes = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # an Agency_Data week here is 8,000 rows, not ~10^6, so the
            # broadcast threshold, and with it updatedNarrow's changed-key
            # budget (threshold / 64 = 2,560 keys), is scaled down too:
            # weekly_run changes ~240 keys, high_churn ~4,000
            "-Dspark.sql.autoBroadcastJoinThreshold=163840",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(
               [classes, os.path.join(spark_home, "jars", "*")]),
              "abrbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work,
              "--trace-out", os.path.join(BUILD, "traces", tag + ".jsonl")])
    errlog = os.path.join(logs, tag + ".log")
    try:
        with open(errlog, "w") as err:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=err, stdin=subprocess.DEVNULL,
                               timeout=170, text=True)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run timed out; log in {errlog}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(errlog) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {p.returncode}); log in {errlog}")
    with open(errlog) as f:
        summary = [l for l in f if l.startswith(("  ", a.workload, "raw", "cycles",
                                                 "queries", "CHECK"))]
    sys.stderr.write("".join(summary))
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
