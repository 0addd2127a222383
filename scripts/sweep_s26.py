#!/usr/bin/env python3
"""s26 shuffle-partitions x rank-plan sweep at the 100x scale-up (round-17
verdict #2): runs graft.Bench for s26_knn_graph over the cross product
SPARK_GRAFT_SHUFFLE in {32, 64, 128, 256} x SPARK_GRAFT_KNN_RANK in
{window, heap}, one JVM per cell, and merges the table into BENCH_100x.json
under "s26_sweep" so the winning default is a diffable artifact.

Usage: sweep_s26.py [sfDir] [benchJson] [reps]
"""
import glob
import json
import os
import re
import subprocess
import sys

ADD_OPENS_PKGS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def app_jar():
    jars = [j for j in glob.glob("target/scala-2.13/*_2.13-*.jar")
            if not re.search(r"-(sources|javadoc|tests)\.jar$", j)]
    if not jars:
        raise SystemExit("sweep_s26: no app jar - run `sbt -batch package`")
    return max(jars, key=os.path.getmtime)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "target/sf10"
    bench_json = sys.argv[2] if len(sys.argv) > 2 else "BENCH_100x.json"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    jar = app_jar()
    add_opens = []
    for p in ADD_OPENS_PKGS:
        add_opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    table = {}
    for shuffle in ["32", "64", "128", "256"]:
        for plan in ["window", "heap"]:
            env = dict(os.environ,
                       SPARK_GRAFT_SF_DIR=sf_dir,
                       SPARK_GRAFT_SHUFFLE=shuffle,
                       SPARK_GRAFT_KNN_RANK=plan)
            cmd = ["java", *add_opens, "-Xmx100g",
                   "-cp", f"{jar}:/opt/spark/jars/*",
                   "graft.Bench", str(reps), "s26_knn_graph"]
            print(f"[sweep] shuffle={shuffle} plan={plan} ...", flush=True)
            proc = subprocess.run(cmd, capture_output=True, text=True, env=env)
            times = [float(m) for m in
                     re.findall(r"\[bench\] \S+ rep \d+: ([0-9.]+) s",
                                proc.stdout)]
            key = f"shuffle{shuffle}_{plan}"
            if times:
                table[key] = round(min(times), 3)
                print(f"[sweep] {key}: min {table[key]} s of {times}",
                      flush=True)
            else:
                table[key] = None
                print(f"[sweep] {key}: FAILED\n{proc.stderr[-2000:]}",
                      flush=True)
    artifact = {}
    if os.path.exists(bench_json):
        with open(bench_json) as f:
            artifact = json.load(f)
    artifact["s26_sweep"] = {
        "dataset": sf_dir,
        "reps": reps,
        "seconds": table,
        "note": "min of reps, one JVM per cell (graft.Bench <reps> s26_knn_graph), run alone; "
                "SPARK_GRAFT_SHUFFLE x SPARK_GRAFT_KNN_RANK cross product",
    }
    with open(bench_json, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"[sweep] merged into {bench_json}: "
          f"{json.dumps(table, sort_keys=True)}")


if __name__ == "__main__":
    main()
