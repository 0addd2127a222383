#!/usr/bin/env python3
"""Summarise a JDK Flight Recorder file: process starts and hot frames.

    python3 scripts/jfr_summary.py <file.jfr> [--top N]

Prints, from the JDK's own `jfr print --json`:

  * `jdk.ProcessStart` counts by command (first word), by thread and by
    Spark call site (the innermost `org.apache.spark` or `graft` frame
    of the starting stack, with the frame that called it);
  * the top sampled frames (`jdk.ExecutionSample`) of each of the busiest
    threads.

To record a benchmark run, build it once without recording (the first run
of `perfbench/run.py` also starts sbt, which would record over the same
file), then run it again with the recorder on:

    python3 perfbench/run.py --workload ship --seed 7 --seconds 12 --trace 0
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/ship.jfr,settings=profile" \\
        python3 perfbench/run.py --workload ship --seed 7 --seconds 12 --trace 0
    python3 scripts/jfr_summary.py /tmp/ship.jfr

Thread names are normalised: the query ids in "stream execution thread for
[id = ..., runId = ...]", the task in "Executor task launch worker for
task ..." and trailing worker numbers are dropped, so one row counts a
whole pool.
"""
import argparse
import collections
import json
import re
import shutil
import signal
import subprocess
import sys

EVENTS = "jdk.ProcessStart,jdk.ExecutionSample"
CALL_SITE_PREFIXES = ("org.apache.spark.", "graft.")


def load(path):
    jfr = shutil.which("jfr")
    if jfr is None:
        sys.exit("jfr_summary: the JDK's `jfr` tool is not on PATH")
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", "64",
                          "--events", EVENTS, path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def thread_name(t):
    if not t:
        return "?"
    name = t.get("javaName") or t.get("osName") or "?"
    name = re.sub(r"\[id = [^]]*\]", "[...]", name)
    name = re.sub(r" for task .*", " for task ...", name)
    return re.sub(r"[-#]?\d+$", "", name)


def frame_name(f):
    m = f.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return f"{cls}.{m.get('name', '?')}"


def frames(ev):
    return [frame_name(f) for f in ((ev["values"].get("stackTrace") or {}).get("frames") or [])]


def call_site(fs):
    """Innermost program frame of a stack, with the frame that called it."""
    for i, f in enumerate(fs):
        if f.startswith(CALL_SITE_PREFIXES):
            caller = fs[i + 1] if i + 1 < len(fs) else ""
            return f + (f" <- {caller}" if caller else "")
    return fs[-1] if fs else "?"


def table(title, counter, limit):
    print(title)
    if not counter:
        print("  (none)")
    for k, n in counter.most_common(limit):
        print(f"  {n:8d}  {k}")
    print()


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet when piped into head
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("file")
    ap.add_argument("--top", type=int, default=10, help="rows per table (default 10)")
    args = ap.parse_args()

    starts, samples = [], collections.defaultdict(collections.Counter)
    for ev in load(args.file):
        v = ev["values"]
        if ev["type"] == "jdk.ProcessStart":
            starts.append((v.get("command", "?"), thread_name(v.get("eventThread")), frames(ev)))
        elif ev["type"] == "jdk.ExecutionSample":
            fs = frames(ev)
            if fs:
                samples[thread_name(v.get("sampledThread"))][fs[0]] += 1

    print(f"jdk.ProcessStart: {len(starts)} processes\n")
    table("by command", collections.Counter(c.split(" ", 1)[0] for c, _, _ in starts), args.top)
    table("by thread", collections.Counter(t for _, t, _ in starts), args.top)
    table("by call site", collections.Counter(call_site(fs) for _, _, fs in starts), args.top)

    busiest = sorted(samples, key=lambda t: -sum(samples[t].values()))[:args.top]
    print(f"jdk.ExecutionSample: {sum(sum(c.values()) for c in samples.values())} samples\n")
    for t in busiest:
        table(f"top frames on {t} ({sum(samples[t].values())} samples)", samples[t], args.top)


if __name__ == "__main__":
    main()
