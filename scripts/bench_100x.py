#!/usr/bin/env python3
"""100x scale-up probe as a COMMITTED artifact (round-16 verdict #8).

Runs graft.Bench from the packaged jar for a representative query set
against a gen_sf 100x dataset (default target/sf10, reproducible via
`python3 scripts/gen_sf.py /root/testdata/sf0.1 target/sf10 100`), takes the
min of the reps per query, and writes one JSON artifact so the next round
can diff 100x numbers instead of re-deriving them from prose.

Usage: bench_100x.py [sfDir] [outJson] [reps]

Each query runs in its OWN JVM (`graft.Bench <reps> <query>`),
sequentially — run alone, like the full Bench. `sbt -batch package` must
have produced a current jar first.
"""
import glob
import json
import os
import re
import subprocess
import sys

# the round-16 probe table's representative set + the round-17 additions
# (served components c17/c19/d07, served fusion s36, the s26 spill fix)
QUERIES = [
    "q01_pricing_summary",     # 60M-row scan+agg: pushdown + pruning
    "q51_percentiles_auto",    # the histogram re-plan the switch exists for
    "s02_ann_lsh",             # budgeted multi-probe ANN serving
    "s12_ann_recall",          # recall of the served ANN config
    "d02_minhash_lsh",         # posting-table-served dedup
    "d07_neardup_components",  # served component labels (round-17)
    "d18_semantic_dedup_auto", # corpus-proportional auto-k SemDeDup (round-18)
    "c17_soft_dedup_weights",  # served component weights (round-17)
    "c19_weighted_sample",     # weighted sample over served components
    "s26_knn_graph",           # the round-16 spill find, round-17 fix
    "s34_rrf_hybrid",          # brute-fusion baseline (corpus-scanning)
    "s36_rrf_served_recall",   # served fusion vs brute fusion (round-17)
    "s37_rrf_graph_recall",    # premium graph-leg fusion (late round-17)
    "s38_rrf_ivf_recall",      # past-cap IVF-leg fusion (round-19)
    "s35_kcenter",             # k-1 argmax scans
    "t19_char_entropy",        # the documented char-volume artifact
]

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
        raise SystemExit("bench_100x: no app jar — run `sbt -batch package`")
    return max(jars, key=os.path.getmtime)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "target/sf10"
    out = sys.argv[2] if len(sys.argv) > 2 else "BENCH_100x.json"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    jar = app_jar()
    add_opens = []
    for p in ADD_OPENS_PKGS:
        add_opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    results, failed = {}, []
    for q in QUERIES:
        cmd = ["java", *add_opens, "-Xmx100g",
               "-cp", f"{jar}:/opt/spark/jars/*",
               "graft.Bench", str(reps), q]
        print(f"[bench100x] {q} ...", flush=True)
        proc = subprocess.run(cmd, capture_output=True, text=True, env=env)
        times = [float(m) for m in
                 re.findall(r"\[bench\] \S+ rep \d+: ([0-9.]+) s",
                            proc.stdout)]
        if times:
            results[q] = round(min(times), 3)
            print(f"[bench100x] {q}: min {results[q]} s of {times}", flush=True)
        else:
            failed.append(q)
            print(f"[bench100x] {q}: FAILED\n{proc.stderr[-2000:]}", flush=True)
    artifact = {
        "metric": "bench_100x",
        "unit": "sec",
        "dataset": sf_dir,
        "reps": reps,
        "queries": results,
        "failed": failed,
        "note": "min of reps, one JVM per query via graft.Bench <reps> <query> "
                "(count()-free noop drain), run alone; dataset is "
                "gen_sf.py 100x of sf0.1",
    }
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"[bench100x] wrote {out}: {json.dumps(results, sort_keys=True)}")
    if failed:
        raise SystemExit(f"bench_100x: failures: {failed}")


if __name__ == "__main__":
    main()
