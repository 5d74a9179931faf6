#!/usr/bin/env python3
"""Test of the benchmark's traced run.

    python3 opbench/test_trace.py [--workload headline] [--seconds 1]

Runs `run.py --trace 1` twice with the same seed on the same build and
checks that:
  - every call (same pass, same operator) reports identical exec.jobs,
    exec.stages, exec.tasks and ops.build_jobs in both runs; the counts
    are read after the listener bus is drained, so a count that differs
    is a lost event, not noise;
  - the span tree of every call is sound, on the raw spans as recorded:
    the op span lasts the call's wall time, build and action split it
    at one instant, every job and Catalyst span lies inside the phase it
    is attached to, and the Catalyst phases and jobs of the action do
    not overlap, except jobs with jobs (Spark runs broadcast and
    subquery jobs concurrently). Inside build only containment is
    checked: operator code may nest commands or run queries on its own
    threads. These are what make self times (a span's duration
    minus the union of its children) all non-negative, so that they add
    up to the call's wall time with no time counted twice. The sum alone
    holds by construction and is not checked.
Exits non-zero on the first failed check.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
COUNTS = ("jobs", "stages", "tasks", "build_jobs")
TOL_MS = 2.0  # listener times are whole milliseconds


def traced_run(workload, seconds):
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                    "--seed", "1", "--seconds", str(seconds), "--trace", "1"],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    trace_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "trace")
    with open(os.path.join(trace_dir, f"{workload}.calls.json")) as f:
        calls = [c for p in json.load(f)["passes"] for c in p["calls"]]
    with open(os.path.join(trace_dir, f"{workload}.spans.jsonl")) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    return calls, spans


def check_call(c, sp):
    """Returns what is wrong with the spans sp of call c, or None."""
    by_kind = {s["span"]: s for s in sp if s["span"] in ("op", "build", "action")}
    if set(by_kind) != {"op", "build", "action"}:
        return f"op/build/action spans missing: {sorted(by_kind)}"
    op, build, action = by_kind["op"], by_kind["build"], by_kind["action"]
    wall_ms = c["wall_s"] * 1e3
    if abs((op["end_ms"] - op["start_ms"]) - wall_ms) > TOL_MS:
        return f"op span lasts {op['end_ms'] - op['start_ms']:.3f} ms, wall time {wall_ms:.3f} ms"
    if (abs(build["start_ms"] - op["start_ms"]) > TOL_MS or abs(build["end_ms"] - action["start_ms"]) > TOL_MS
            or abs(action["end_ms"] - op["end_ms"]) > TOL_MS):
        return "build and action do not split the op span"
    for parent in ("op", "build", "action"):
        p = by_kind[parent]
        kids = sorted((s for s in sp if s["parent"] == parent), key=lambda s: s["start_ms"])
        for s in kids:
            if s["start_ms"] < p["start_ms"] - TOL_MS or s["end_ms"] > p["end_ms"] + TOL_MS:
                return f"{s['span']} span [{s['start_ms']}, {s['end_ms']}] outside its {parent} span"
        # Jobs may overlap one another: broadcasts and subqueries submit
        # jobs concurrently. Inside build, the operator's own code may
        # also nest commands or run queries on threads of its own.
        if parent == "build":
            continue
        end = {}
        for s in kids:
            for kind, e in end.items():
                if s["start_ms"] < e - TOL_MS and not (kind == s["span"] == "job"):
                    return f"{kind} and {s['span']} spans overlap inside {parent}"
            end[s["span"]] = max(end.get(s["span"], float("-inf")), s["end_ms"])
    return None


def check_spans(calls, spans):
    by_call = {}
    for s in spans:
        by_call.setdefault(s["call"], []).append(s)
    for c in calls:
        bad = check_call(c, by_call.get(c["call"], []))
        if bad:
            sys.exit(f"FAIL call {c['call']} {c['op']}: {bad}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="headline")
    ap.add_argument("--seconds", type=float, default=1)
    a = ap.parse_args()
    first, spans = traced_run(a.workload, a.seconds)
    check_spans(first, spans)
    second, spans = traced_run(a.workload, a.seconds)
    check_spans(second, spans)
    if [c["op"] for c in first] != [c["op"] for c in second]:
        sys.exit("FAIL the two runs called different operators")
    for x, y in zip(first, second):
        for k in COUNTS:
            if x.get(k) != y.get(k):
                sys.exit(f"FAIL {x['op']}: {k} {x.get(k)} vs {y.get(k)}")
    print(f"ok: {len(first)} calls, counts {', '.join(COUNTS)} repeat exactly; "
          f"span trees sound")


if __name__ == "__main__":
    main()
