#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the program and the
benchmark with the benchmark's own sbt build (perfbench/build.sbt) and keeps
the classpath in .bench_build/; later runs reuse it until a source file
changes. The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("ship", "ship_throttled", "rows")
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_files():
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(BENCH, f)
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                yield os.path.join(d, f)


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(fp):
    """Build once per source state; return the runtime classpath.

    The program's classes land in the root project's target/, which the
    repository's own sbt build also writes. So every class directory and
    file of this checkout on the classpath is copied into a directory keyed
    by the source fingerprint, and the classpath points there: a cached
    build always runs the classes of the sources it was built from.
    """
    keyed = os.path.join(BUILD, fp[:16])
    cp_file = os.path.join(keyed, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fc:
            return fc.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
        text=True, timeout=850)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        sys.exit("perfbench: build failed")
    staging = keyed + ".tmp-%d" % os.getpid()
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.commonpath([os.path.abspath(entry), ROOT]) != ROOT:
            cp.append(entry)
            continue
        dst = os.path.join(staging, "cp%02d" % i)
        if os.path.isdir(entry):
            shutil.copytree(entry, dst)
        else:
            os.makedirs(dst)
            dst = os.path.join(dst, os.path.basename(entry))
            shutil.copy2(entry, dst)
        cp.append(os.path.join(keyed, os.path.relpath(dst, staging)))
    with open(os.path.join(staging, "classpath.txt"), "w") as fh:
        fh.write(os.pathsep.join(cp))
    shutil.rmtree(keyed, ignore_errors=True)
    os.rename(staging, keyed)
    return os.pathsep.join(cp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: run from the root of a checkout that holds the program")
    fp = fingerprint()
    cp = classpath(fp)
    work = os.path.join(BUILD, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    trace_out = os.path.join(BUILD, "traces", "%s-seed%d.jsonl" % (a.workload, a.seed))
    # exact counts of traced runs, kept per source state and seed so that a
    # second traced run of the same code and seed is checked against them
    counts = os.path.join(BUILD, fp[:16], "counts", "%s-seed%d.tsv" % (a.workload, a.seed))
    cmd = [java, "-Xms3g", "-Xmx3g"] + opens + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Duser.timezone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--data", os.path.join(BENCH, "data", "sf0.01"),
        "--digests", os.path.join(BENCH, "digests.tsv"), "--work", work,
        "--trace-out", trace_out, "--counts", counts, "--t0-ns", str(time.time_ns())]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = 124
        sys.stderr.write("perfbench: run exceeded %d s\n" % RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
