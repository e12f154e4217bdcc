#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result as JSON.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the repository's main sources together with the benchmark sources
(sbt, in perfbench/) when they changed since the last build, then runs the
workload in one JVM. The last line of standard output is the result object:
`correct`, `attempted`, `failed` and `metrics`. Everything the run writes
stays under .bench_build/ in the checkout.

`--record` also stores the run's check values (model quality, row counts,
query fingerprints) in perfbench/expected.json as the values later runs of
the same seed must reproduce.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ["curate_then_train", "query_mix"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "target", "scala-2.13", "classes")
STAMP = os.path.join(OUT, "build.stamp")
EXPECTED = os.path.join(BENCH, "expected.json")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
           os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]

# Spark 4 on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing started here outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_hash():
    h = hashlib.sha256()
    for top in SOURCES:
        if not os.path.exists(top):
            fail(f"missing {os.path.relpath(top, ROOT)}: run from the root of a graft checkout")
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the benchmark compiles and runs
    against: $SPARK_HOME, else the first directory on PATH holding a
    `spark-submit` next to a `jars` directory."""
    if "SPARK_HOME" in os.environ:
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark found: set SPARK_HOME or put Spark's bin directory on PATH")


def build():
    digest = source_hash()
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                         cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {code}); log in {os.path.relpath(log, ROOT)}")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--record", action="store_true",
                    help="store this seed's check values in perfbench/expected.json")
    a = ap.parse_args()

    build()
    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    result = os.path.join(work, "result.json")
    spark_jars = os.path.join(spark_home(), "jars", "*")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a pinned heap: the full collection after every pass cannot shrink it,
    # so no pass pays to grow it again
    cmd = [java, "-Xms3g", "-Xmx3g",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join([CLASSES, spark_jars]), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--result", result, "--expected", EXPECTED,
           "--spans", os.path.join(OUT, "traces", f"{tag}.jsonl")]
    log = os.path.join(OUT, "logs", f"{tag}.log")
    with open(log, "w") as f:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT)
    summary = [l for l in open(log, errors="replace") if l.startswith("[perfbench]")]
    sys.stderr.writelines(summary)
    if code != 0 or not os.path.isfile(result):
        sys.stderr.write("".join(open(log, errors="replace").readlines()[-60:]))
        fail(f"workload {a.workload} exited {code}; log in {os.path.relpath(log, ROOT)}")
    line = open(result).read().strip()
    if a.record:
        checks = json.load(open(result + ".checks"))
        exp = json.load(open(EXPECTED)) if os.path.isfile(EXPECTED) else {}
        exp.setdefault(a.workload, {})[str(a.seed)] = checks
        with open(EXPECTED, "w") as f:
            json.dump(exp, f, indent=1, sort_keys=True)
            f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(line)


if __name__ == "__main__":
    main()
