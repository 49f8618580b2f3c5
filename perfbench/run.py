#!/usr/bin/env python3
"""Validation benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

After a fixed number of untimed warm-up ops (WARMUPS), a run times a
fixed number of ops, about S seconds' worth (OP_BUDGET_S).

Run from the root of a checkout. It compiles the checkout's program with
the benchmark harness (build.py), makes the workload's inputs from the
seed (fixtures.py, cached per workload and seed), runs one JVM for the
workload and prints, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics (layers.py) with `--trace 1`.

`--smoke` runs every workload once on tiny inputs, correctness gates
and the traced path included, and exits non-zero naming the first
workload that fails.

Everything the run writes goes under `.bench_build/` in the checkout;
the per-run scratch directory (warehouse, Spark local dir, JVM tmpdir,
stream sinks) is deleted on exit.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import fixtures  # noqa: E402
import layers  # noqa: E402

WORKLOADS = list(fixtures.BUILDERS)
# fixed heap; the throughput collector, whose pauses are all
# stop-the-world, gave steadier op times than G1 in these short runs
HEAP = "2g"
RUN_TIMEOUT_S = 150
# Untimed warm-up ops before the timed ones. A fresh JVM spends its first
# ops JIT-compiling Spark and the program; these counts carry the gated
# workloads past the knee of that curve (README, "Warm-up") within the
# time the whole benchmark may take.
WARMUPS = {"csv_star": 5, "csv_dirty": 5, "typed_small": 10,
           "stream_ingest": 6}
# Seconds of --seconds that buy one timed op. The count is fixed per
# workload, not read off a clock, so that every run's median covers the
# same ops. At --seconds 18: 2 csv ops, 9 typed_small, 9 stream.
OP_BUDGET_S = {"csv_star": 9.0, "csv_dirty": 9.0, "typed_small": 2.0,
               "stream_ingest": 2.0}

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def fixture(workload, seed, base, tag):
    """The (workload, seed) inputs, generated once and then reused."""
    out = os.path.join(base, "%s-%s" % (workload, tag))
    meta = os.path.join(out, "meta.json")
    if os.path.exists(meta):
        return out, json.load(open(meta))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    m = fixtures.BUILDERS[workload](seed, out, ROOT)
    m["generation_s"] = time.time() - t0
    with open(meta + ".tmp", "w") as f:
        json.dump(m, f)
    os.rename(meta + ".tmp", meta)
    log("%s %s: inputs generated in %.2f s" % (workload, tag, m["generation_s"]))
    return out, m


def run_jvm(cp, workload, fx, ops, trace, tmp, warmups):
    out = os.path.join(tmp, "result.json")
    spans = os.path.join(tmp, "spans.jsonl") if trace else ""
    jtmp = os.path.join(tmp, "jvm")
    os.makedirs(jtmp)
    cmd = [build.java(), "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + jtmp, "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.PerfBench",
            "--workload", workload, "--fixture", os.path.relpath(fx, ROOT),
            "--ops", str(ops), "--trace", "1" if trace else "0",
            "--tmp", tmp, "--out", out, "--spans", spans,
            "--warmups", str(warmups),
            "--cores", str(len(os.sched_getaffinity(0)))]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")}
    with open(os.path.join(tmp, "jvm.log"), "w") as jlog:
        try:
            r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=jlog,
                               stderr=subprocess.STDOUT, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError("harness JVM timed out after %d s" % RUN_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(out):
        lines = open(os.path.join(tmp, "jvm.log")).read().splitlines()
        thrown = [l for l in lines if l.startswith("Exception in thread")] or \
            [l for l in lines if "Exception" in l] or lines[-20:]
        raise RuntimeError("harness JVM exited %d: %s" % (r.returncode, thrown[-1]))
    result = json.load(open(out))
    return result, (layers.load(spans) if trace else None)


def tail(samples):
    """The tail op time, its percentile and n: the highest percentile
    with at least ten samples beyond it, once there are enough samples
    (100) for that to be p90 or above. With fewer, the 90th percentile,
    interpolated between neighbouring ops (below eleven, the two
    slowest), so that one stray op moves it by a fraction of its excess
    rather than all of it."""
    xs = sorted(samples)
    if len(xs) >= 100:
        k = len(xs) - 11
        return xs[k], 100.0 * (k + 1) / len(xs), len(xs)
    if len(xs) == 1:
        return xs[0], 100.0, 1
    return statistics.quantiles(xs, n=10, method="inclusive")[-1], 90.0, len(xs)


# name, unit, better: BENCHMARK.json's `end_to_end` list must match
END_TO_END = [("setup_s", "s", "lower"), ("op_s.p50", "s", "lower"),
              ("op_s.tail", "s", "lower"), ("rows_per_s", "rows/s", "higher"),
              ("cpu_s_per_op", "s", "lower"), ("live_heap_mb", "MB", "lower")]


def check_spec():
    """BENCHMARK.json's metric lists must be END_TO_END and layers.LAYERS."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", layers.LAYERS)):
        theirs = [(m["name"], m["unit"], m["better"]) for m in spec[key]]
        if theirs != [tuple(m[:3]) for m in ours]:
            raise RuntimeError("BENCHMARK.json %s differs from perfbench's list" % key)


def end_to_end(result):
    ops = result["op_s"]
    t, pct, n = tail(ops)
    warm = result["warmup_s"]
    log("op_s.tail is p%.0f of n=%d ops; session and set-up %.3f s; "
        "warm-up ops %s s; timed ops %s s; last warm-up op / op_s.p50 %.3f; "
        "GC and release between ops %s s; live heap after each op %s MB" % (
            pct, n, result["session_s"], ", ".join("%.3f" % s for s in warm),
            ", ".join("%.3f" % s for s in ops),
            warm[-1] / statistics.median(ops) if warm else float("nan"),
            ", ".join("%.3f" % s for s in result["release_s"]),
            ", ".join("%.1f" % s for s in result["live_heap_mb"])))
    m = {"setup_s": result["setup_s"],
         "op_s.p50": statistics.median(ops),
         "op_s.tail": t,
         "rows_per_s": result["rows_per_op"] * len(ops) / sum(ops),
         "cpu_s_per_op": sum(result["cpu_s"]) / len(ops),
         "live_heap_mb": max(result["live_heap_mb"])}
    return {n: {"value": m[n], "unit": u} for n, u, _ in END_TO_END}


def timed_ops(workload, seconds, trace):
    """How many ops a run times: `seconds` over the workload's op budget.
    A traced run times untraced/traced pairs, a pair costing about three
    ops."""
    per = OP_BUDGET_S[workload] * (3 if trace else 1)
    n = max(1, int(round(seconds / per)))
    return 2 * n if trace else n


def one(cp, workload, seed, ops, trace, base, warmups=None, tag=None):
    tag = tag or str(seed)
    warmups = WARMUPS[workload] if warmups is None else warmups
    fx, _ = fixture(workload, seed, os.path.join(base, "fixtures"), tag)
    tmp = os.path.join(base, "run-%d" % os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        result, spans = run_jvm(cp, workload, fx, ops, trace, tmp, warmups)
        if spans is not None:
            keep = os.path.join(base, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(tmp, "spans.jsonl"),
                        os.path.join(keep, "%s-%s.jsonl" % (workload, tag)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    correct = result["failed"] == 0
    for r in result["reasons"]:
        log("%s: gate failed: %s" % (workload, r))
    if workload == "stream_ingest" and correct:
        want = fixtures.stream_totals(fx, result["batches_done"])
        if sorted(map(tuple, result["stream_totals"])) != sorted(map(tuple, want)):
            log("stream_ingest: totals differ from the batchless recompute")
            correct = False
    metrics = layers.metrics(spans, result, workload) if trace \
        else end_to_end(result)
    return {"correct": correct, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}


def smoke(cp, base):
    """Every workload once on tiny inputs: one untraced op and one traced."""
    fixtures.SF_CSV = fixtures.SF_TYPED = 0.001
    fixtures.STREAM_HISTORY_SF = 0.001
    fixtures.STREAM_BATCH = 200
    fixtures.STREAM_BATCHES = 4
    for w in WORKLOADS:
        t0 = time.time()
        try:
            out = one(cp, w, 0, 2, True, base, warmups=0, tag="smoke")
        except Exception as e:  # noqa: BLE001 - report any failure by workload
            log("smoke %s FAILED: %s: %s" % (w, type(e).__name__, e))
            return 1
        if not out["correct"]:
            log("smoke %s FAILED its correctness gate" % w)
            return 1
        log("smoke %s ok in %.1f s" % (w, time.time() - t0))
    return 0


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=18)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()
    if not a.smoke and not a.workload:
        p.error("--workload or --smoke is required")
    # a SIGTERM still runs the clean-up in `finally` blocks
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".bench_build")
    try:
        cp = build.ensure(ROOT)
        if a.smoke:
            return smoke(cp, base)
        check_spec()
        out = one(cp, a.workload, a.seed,
                  timed_ops(a.workload, a.seconds, a.trace), bool(a.trace), base)
    except Exception as e:  # noqa: BLE001 - any failure ends the run unreported
        log("%s failed: %s: %s" % (a.workload or "smoke", type(e).__name__, e))
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
