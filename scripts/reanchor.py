#!/usr/bin/env python3
"""Control-gated bench re-anchor (round-19 verdict #3): the round-19
control protocol as one parameterized command.

The host shows multi-minute ambient I/O bursts that inflate spill/scan-heavy
rows 3-5x (the r18/r19 record: s26 618->137 s, t19 180->48 s between
back-to-back identical reps). The steady-state estimator is per-row MIN with
plan-identical CONTROL rows bracketing the window:

    controls (gate) -> measure queries -> controls again (re-check) -> fold

The script REFUSES to touch the output artifact when either control pass
drifts past the stated band from the artifact's own committed values, and it
records the whole control protocol machine-readably in the artifact
(`control_check`), not as prose in a note.

Usage (the r19 100x re-anchor, reproduced):

    python3 scripts/reanchor.py --dataset target/sf10 \
        --queries s26_knn_graph s37_rrf_graph_recall \
        --controls q01_pricing_summary c17_soft_dedup_weights d07_neardup_components \
        --reps 2 --band 0.25 --out BENCH_100x.json

Optionally `--full-bench-out bench_results_sf1.json` runs the full Bench
sweep on --dataset inside the same gated window and rewrites that artifact
(with the same control_check embedded).

Control reference values come from the --out artifact's own `queries` map:
the committed numbers ARE the quiet-window anchor. Measured queries fold in
as min(committed, measured) unless --replace.
"""
import argparse
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ADD_OPENS = " ".join(
    f"--add-opens java.base/{p}=ALL-UNNAMED"
    for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    ])


def log(msg):
    print(f"[reanchor] {time.strftime('%Y-%m-%dT%H:%M:%SZ', time.gmtime())} "
          f"{msg}", flush=True)


def find_jar():
    cands = [
        os.path.join(d, f)
        for d in [os.path.join(REPO, "target", "scala-2.13")]
        if os.path.isdir(d)
        for f in os.listdir(d)
        if f.endswith(".jar")
        and not re.search(r"(sources|javadoc|tests)\.jar$", f)
    ]
    if not cands:
        sys.exit("[reanchor] no packaged jar under target/scala-2.13 "
                 "(run without --no-package)")
    return max(cands, key=os.path.getmtime)


REP_LINE = re.compile(r"\[bench\] \S+ rep \d+: ([0-9.]+) s")


def bench_one(jar, query, dataset, reps):
    """min-of-reps wall seconds for one query, one JVM, noop drain."""
    cmd = (f"java {ADD_OPENS} -Xmx100g -cp '{jar}:/opt/spark/jars/*' "
           f"graft.Bench {reps} {query}")
    out = subprocess.run(cmd, shell=True, cwd=REPO, capture_output=True,
                         text=True,
                         env=dict(os.environ, SPARK_GRAFT_SF_DIR=dataset))
    times = [float(m) for m in REP_LINE.findall(out.stdout)]
    if len(times) != reps:
        sys.stderr.write(out.stdout[-3000:] + "\n" + out.stderr[-3000:] + "\n")
        sys.exit(f"[reanchor] Bench {query} produced {len(times)}/{reps} "
                 "rep lines - aborting")
    t = min(times)
    log(f"Bench {query} ({dataset}, reps={reps}): min={t:.3f} s "
        f"(reps {','.join(f'{x:.3f}' for x in times)})")
    return t


def control_pass(jar, controls, refs, dataset, reps, band, label):
    """Run every control row; return {name: {ref, value, ratio, ok}}."""
    rows = {}
    for c in controls:
        v = bench_one(jar, c, dataset, reps)
        ratio = v / refs[c]
        ok = max(ratio, 1.0 / ratio) <= 1.0 + band
        rows[c] = {"ref": refs[c], "value": round(v, 3),
                   "ratio": round(ratio, 3), "ok": ok}
        log(f"control[{label}] {c}: {v:.3f} vs ref {refs[c]:.3f} "
            f"(ratio {ratio:.2f}, band ±{band:.0%}) -> "
            f"{'ok' if ok else 'DRIFTED'}")
    return rows


def main():
    ap = argparse.ArgumentParser(
        description="control-gated bench re-anchor (see module docstring)")
    ap.add_argument("--dataset", required=True)
    ap.add_argument("--queries", nargs="+", required=True,
                    help="rows to (re-)measure and fold into --out")
    ap.add_argument("--controls", nargs="+", required=True,
                    help="plan-identical control rows; refs come from --out")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--band", type=float, default=0.25,
                    help="allowed control ratio drift, e.g. 0.25 = ±25%%")
    ap.add_argument("--out", required=True,
                    help="bench artifact to gate and fold into (JSON with a "
                         "'queries' map, e.g. BENCH_100x.json)")
    ap.add_argument("--full-bench-out", default=None,
                    help="also run the full graft.Bench sweep on --dataset "
                         "inside the gated window and rewrite this artifact")
    ap.add_argument("--replace", action="store_true",
                    help="overwrite measured rows instead of min-folding")
    ap.add_argument("--no-package", action="store_true")
    args = ap.parse_args()

    out_path = os.path.join(REPO, args.out)
    with open(out_path) as f:
        artifact = json.load(f)
    refs = {}
    for c in args.controls:
        if c not in artifact.get("queries", {}):
            sys.exit(f"[reanchor] control {c} has no committed value in "
                     f"{args.out} - controls must reference the artifact's "
                     "own quiet-window anchor")
        refs[c] = artifact["queries"][c]

    if not args.no_package:
        log("packaging")
        r = subprocess.run("sbt -batch package", shell=True, cwd=REPO,
                           capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-3000:])
            sys.exit("[reanchor] sbt package failed")
    jar = find_jar()
    log(f"jar: {jar}")

    window_start = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    pre = control_pass(jar, args.controls, refs, args.dataset, args.reps,
                       args.band, "pre")
    if not all(r["ok"] for r in pre.values()):
        sys.exit("[reanchor] PRE-controls drifted past the band - the window "
                 "is not calm; nothing written (rerun later)")

    measured = {q: bench_one(jar, q, args.dataset, args.reps)
                for q in args.queries}

    full_bench_line = None
    if args.full_bench_out:
        log(f"full Bench on {args.dataset}")
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=args.dataset)
        r = subprocess.run(
            f"java {ADD_OPENS} -Xmx100g -cp '{jar}:/opt/spark/jars/*' "
            "graft.Bench", shell=True, cwd=REPO, env=env,
            capture_output=True, text=True)
        # the last line carrying the per-query map (the compact line); the
        # short total line after it has no "queries"
        lines = [ln for ln in r.stdout.splitlines()
                 if ln.startswith("{") and '"queries"' in ln]
        if r.returncode != 0 or not lines:
            sys.stderr.write(r.stdout[-3000:] + "\n" + r.stderr[-2000:])
            sys.exit("[reanchor] full Bench failed; nothing written")
        full_bench_line = json.loads(lines[-1])
        log(f"full Bench total {full_bench_line['value']:.1f} s")

    post = control_pass(jar, args.controls, refs, args.dataset, args.reps,
                        args.band, "post")
    window_end = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    if not all(r["ok"] for r in post.values()):
        sys.exit("[reanchor] POST-controls drifted past the band - a burst "
                 "crossed the measurement window; nothing written "
                 f"(measured, for reference only: {json.dumps(measured)})")

    control_check = {
        "protocol": "controls->gate->measure->re-check-controls; refuse on drift",
        "window": [window_start, window_end],
        "dataset": args.dataset,
        "reps": args.reps,
        "band": args.band,
        "pre": pre,
        "post": post,
        "pass": True,
    }
    for q, v in measured.items():
        old = artifact["queries"].get(q)
        folded = round(v, 3) if (args.replace or old is None) \
            else round(min(old, v), 3)
        log(f"fold {q}: committed={old} measured={v:.3f} -> {folded}")
        artifact["queries"][q] = folded
    artifact["control_check"] = control_check
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"wrote {args.out}")

    if full_bench_line is not None:
        full_bench_line["control_check"] = control_check
        fb_path = os.path.join(REPO, args.full_bench_out)
        with open(fb_path, "w") as f:
            json.dump(full_bench_line, f)
            f.write("\n")
        log(f"wrote {args.full_bench_out}")


if __name__ == "__main__":
    main()
