#!/usr/bin/env python3
"""End-to-end benchmark of graft's registered operators.

    python3 opbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft and the
benchmark runner (opbench/build.sh) and generates the corpus
(opbench/datagen.py) under $CARGO_TARGET_DIR (default .bench_build).

Each run launches one JVM directly with `java`, the flags in
workloads.json and the compiled classes, so no caller environment
(SPARK_*, GRAFT_*, sbt) changes the numbers. Load model: closed loop,
one client thread, one operator at a time, one local[4] session. The
JVM builds the session, makes warm_passes untimed warm-up passes over
the workload's pinned operators on a copy of the corpus, then makes
S / nominal_pass_s timed passes, each on a fresh copy of its own, so
that no pass finds a cache keyed on a table's path. The seed sets the
order of the operators, never the corpus, so every output can be
compared with its checksum pin in pins.json.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics (from a second, traced JVM) with --trace 1. The exit
code is non-zero if any call failed or missed its pin.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DEADLINE_S = 170  # a run must end within 180 s
CORES = 4  # the runner's local[4]


def load_json(name):
    with open(os.path.join(BENCH, name)) as f:
        return json.load(f)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure(stamp_dir, digest, make):
    """Run make() unless stamp_dir holds the output for this digest."""
    stamp = stamp_dir + ".stamp"
    if os.path.isdir(stamp_dir) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    if os.path.exists(stamp):
        os.remove(stamp)
    make()
    with open(stamp, "w") as f:
        f.write(digest)


def build(build_dir):
    classes = os.path.join(build_dir, "classes")
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "scala"),
               os.path.join(BENCH, "build.sh")]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("opbench: no graft sources (src/main/scala) in this checkout")
    digest = tree_digest([p for p in sources if os.path.exists(p)])
    ensure(classes, digest, lambda: subprocess.run(
        ["sh", os.path.join(BENCH, "build.sh"), classes, spark_jars()], check=True,
        stdout=sys.stderr))
    return classes


def corpus(build_dir, scale, name):
    out = os.path.join(build_dir, "data", name)
    digest = tree_digest([os.path.join(BENCH, "datagen.py")])
    ensure(out, digest, lambda: subprocess.run(
        [sys.executable, os.path.join(BENCH, "datagen.py"), out, scale], check=True))
    return out


def spark_jars():
    """The Spark jars build.sbt compiles against (its unmanagedBase)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("opbench: build.sbt names no unmanagedBase for the Spark jars")
    return m.group(1)


def clean_env():
    keep = ("PATH", "HOME", "LANG", "LC_ALL", "JAVA_HOME", "TZ")
    env = {k: v for k, v in os.environ.items() if k in keep}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    return env


class Jvm:
    """One launch of the runner; setup_s is launch until READY."""

    def __init__(self, conf, classes, scratch, args, log):
        os.makedirs(scratch, exist_ok=True)
        self.log = open(log, "ab")
        cmd = (["java"] + conf["jvm_flags"] + conf["add_opens"] +
               [f"-Djava.io.tmpdir={scratch}", "-cp", f"{classes}:{spark_jars()}/*",
                "graftbench.Runner"] + args)
        self.t0 = time.perf_counter()
        self.p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.log,
                                  env=clean_env(), cwd=ROOT)
        self.timer = threading.Timer(max(1.0, DEADLINE - time.monotonic()), self.p.kill)
        self.timer.start()
        self.setup_s = None
        for line in self.p.stdout:
            if line.strip() == b"READY":
                self.setup_s = time.perf_counter() - self.t0
                break

    def wait(self):
        rest = self.p.communicate()[0]
        self.timer.cancel()
        self.log.close()
        if self.p.returncode != 0 or self.setup_s is None:
            raise RuntimeError(f"runner JVM exited with {self.p.returncode}: {rest[-400:]!r}")


def dir_bytes(d):
    total = 0
    for dp, _, files in os.walk(d):
        for f in files:
            try:
                total += os.lstat(os.path.join(dp, f)).st_size
            except OSError:
                pass
    return total


def fresh_copies(sf, work, tag, n):
    """n copies of the corpus sf, one per pass, at paths no JVM has read."""
    dirs = [os.path.join(work, f"{tag}-sf{i}") for i in range(n)]
    for d in dirs:
        shutil.copytree(sf, d)
    return dirs


def run_jvm(conf, classes, work, ops_file, sf, warm, passes, trace, tag):
    scratch = os.path.join(work, f"tmp-{tag}")
    shutil.rmtree(scratch, ignore_errors=True)
    out = os.path.join(work, f"{tag}.json")
    dirs = fresh_copies(sf, work, tag, passes + (1 if trace else 0))
    args = ["--ops", ops_file, "--sf", ",".join(dirs[:passes]), "--warm", ",".join(warm),
            "--out", out]
    if trace:
        args += ["--trace", trace, "--tables", dirs[-1]]
    jvm = Jvm(conf, classes, scratch, args, os.path.join(work, f"{tag}.log"))
    jvm.wait()
    with open(out) as f:
        res = json.load(f)
    res["setup_s"] = jvm.setup_s
    res["scratch_bytes_left"] = dir_bytes(scratch)
    for d in [scratch] + dirs:
        shutil.rmtree(d, ignore_errors=True)
    return res


def tail_percentile(values):
    """Highest percentile with at least 10 samples beyond it (the
    maximum when there are 10 or fewer)."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def check_calls(calls, pins, scale):
    """Fails each call that threw or whose (rows, checksum) misses its
    pin; returns the list of failures."""
    problems = []
    for c in calls:
        pin = pins.get(c["op"], {}).get(scale)
        if not c["ok"]:
            problems.append(f"{c['op']}: {c.get('error', 'failed')}")
        elif pin is None:
            problems.append(f"{c['op']}: no pin at sf{scale} "
                            f"(rows={c['rows']} checksum={c['checksum']})")
        elif c["rows"] != pin["rows"] or pin.get("checksum", c["checksum"]) != c["checksum"]:
            problems.append(f"{c['op']}: rows={c['rows']} checksum={c['checksum']} "
                            f"!= pin {pin}")
    return problems


def all_calls(res):
    return [c for p in res["passes"] for c in p["calls"]]


def end_to_end(res, probe_ref):
    """Times are in reference-host seconds: each pass's times are scaled
    by probe_ref over its host probe (a fixed loop timed just before the
    pass), so a host that drifts slower or busier does not read as
    slower code. pass_s and each operator's time are medians over the
    run's passes; every pass reads its own fresh copy of the corpus, so
    each of them pays the first touch of its tables' paths."""
    per_op, walls, pass_s, raw = {}, [], [], []
    for p in res["passes"]:
        scale = probe_ref / p["probe_s"]
        pass_s.append(p["wall_s"] * scale)
        raw.append(p["wall_s"])
        for c in p["calls"]:
            walls.append(c["wall_s"] * scale)
            per_op.setdefault(c["op"], []).append(walls[-1])
    tail, pct = tail_percentile(walls)
    metrics = {
        "setup_s": res["setup_s"] * probe_ref / res["passes"][0]["probe_s"],
        "pass_s": statistics.median(pass_s),
        "op_geomean_s": math.exp(statistics.fmean(
            math.log(statistics.median(w)) for w in per_op.values())),
        "op_p50_s": statistics.median(walls),
        "op_tail_s": tail,
        "heap_live_mb": res["heap_live_mb"],
    }
    print(f"op_p50_s over n={len(walls)} calls; op_tail_s is p{pct:.1f} of n={len(walls)}")
    print(f"unscaled: pass_s={statistics.median(raw):.6g} setup_s={res['setup_s']:.6g}")
    return metrics


FAMILIES = ("ScanOps FilterOps JoinOps AggOps WindowOps SortOps SetOpsFamily ScalarOps "
            "StreamOps TextOps LlmOps CorpusOps GraphOps EtlOps VecOps").split()


def per_layer(res, untraced_pass_s):
    """Per-layer metrics: sums over the calls of one pass, median over
    the run's passes; session levels as the last call left them."""
    def per_pass(f):
        return statistics.median(f(p) for p in res["passes"])

    def total(key, family=None):
        return lambda p: sum(c.get(key, 0) for c in p["calls"]
                             if family in (None, c.get("family")))

    m = {
        "tables.load_s": sum(t["s"] for t in res["tables"].values()),
        "tables.load_jobs": sum(t["jobs"] for t in res["tables"].values()),
        "ops.build_s": per_pass(total("build_s")),
        "ops.build_jobs": per_pass(total("build_jobs")),
    }
    for fam in FAMILIES:
        m[f"ops.{fam}.s"] = per_pass(total("build_s", fam))
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_s"] = per_pass(total(f"catalyst_{k}_s"))
    m["exec.action_s"] = per_pass(total("action_s"))
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}"] = per_pass(total(k))
    m["exec.empty_task_ratio"] = per_pass(
        lambda p: total("empty_tasks")(p) / max(1, total("tasks")(p)))
    for k in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "input_bytes", "output_bytes"):
        m[f"exec.{k}"] = per_pass(total(k))
    m["exec.core_busy_ratio"] = per_pass(lambda p: total("task_run_s")(p) / (p["wall_s"] * CORES))
    m["io.read_bytes"] = per_pass(lambda p: p["io_read_bytes"])
    m["io.write_bytes"] = per_pass(lambda p: p["io_write_bytes"])
    last = res["passes"][-1]["calls"][-1]
    for k in ("persisted_rdds", "temp_views", "threads"):
        m[f"session.{k}"] = last.get(k, 0)
    m["session.scratch_bytes_left"] = res["scratch_bytes_left"]
    m["host.steal_pct"] = per_pass(lambda p: p["steal_pct"])
    m["host.load1"] = per_pass(lambda p: p["load1"])
    m["bench.trace_overhead"] = per_pass(lambda p: p["wall_s"]) / untraced_pass_s - 1
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    global DEADLINE
    DEADLINE = time.monotonic() + DEADLINE_S

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    conf = load_json("workloads.json")
    if a.workload not in conf["workloads"]:
        sys.exit(f"opbench: unknown workload {a.workload}")
    wl = conf["workloads"][a.workload]
    pins = load_json("pins.json")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(build_dir)
    sf = corpus(build_dir, wl["scale"], f"sf{wl['scale']}")
    # The warm-up reads its own copy, never the timed directory, so a
    # cache keyed on the path cannot move first-touch cost into setup.
    # The headline kernels are still speeding up through the first few
    # passes at their scale, so they warm up longer on a copy at it.
    warm = [corpus(build_dir, wl["warm"], f"warm-sf{wl['warm']}")] * wl["warm_passes"]
    # A fixed pass count, not a time box: with the JIT still warming up,
    # a time box would let a faster build measure a warmer JVM.
    passes = max(1, round(a.seconds / wl["nominal_pass_s"]))

    work = os.path.join(build_dir, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ops = list(wl["ops"])
    random.Random(a.seed).shuffle(ops)
    ops_file = os.path.join(work, "ops.txt")
    with open(ops_file, "w") as f:
        f.write("\n".join(ops) + "\n")

    res = run_jvm(conf, classes, work, ops_file, sf, warm, passes, None, "run")
    calls = all_calls(res)
    if a.trace:
        trace_dir = os.path.join(build_dir, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        spans = os.path.join(trace_dir, f"{a.workload}.spans.jsonl")
        traced = run_jvm(conf, classes, work, ops_file, sf, warm, passes, spans, "traced")
        shutil.copy(os.path.join(work, "traced.json"),
                    os.path.join(trace_dir, f"{a.workload}.calls.json"))
        metrics = per_layer(traced, statistics.median(p["wall_s"] for p in res["passes"]))
        calls = calls + all_calls(traced)
        print(f"spans: {spans}")
    else:
        metrics = end_to_end(res, conf["host_probe_ref_s"])

    problems = check_calls(calls, pins, wl["scale"])
    registered = set(res["registered"])
    listed = set(op for w in conf["workloads"].values() for op in w["ops"])
    for op in sorted(listed - registered):
        print(f"missing: {op} is pinned but not registered")
    unbenchmarked = sorted(registered - listed)
    print(f"unbenchmarked ({len(unbenchmarked)}): {' '.join(unbenchmarked)}")
    for p in problems:
        print(f"FAILED {p}")
    print(f"op_fail_ratio = {len(problems) / len(calls):.4f} ratio "
          f"({len(problems)} of {len(calls)} calls)")
    for i, p in enumerate(res["passes"]):
        print(f"host pass {i}: steal_pct={p['steal_pct']:.2f} load1={p['load1']:.2f} "
              f"probe_s={p['probe_s']:.4f} boot_id={res['boot_id']} "
              f"unscaled pass_s={p['wall_s']:.3f}")

    units = {m["name"]: m["unit"] for key in ("end_to_end", "per_layer") for m in bench[key]}
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not problems,
        "attempted": len(calls),
        "failed": len(problems),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
