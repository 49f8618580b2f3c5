"""Per-layer metrics from a traced run's spans.

`LAYERS` lists every per-layer metric with the end-to-end metric it
should move and the workloads it should move it on. BENCHMARK.json's
`per_layer` list must equal its (name, unit, better) columns; run.py
refuses to run otherwise.
"""

import json
import statistics

# name, unit, better, end-to-end metrics it should move, on workloads
LAYERS = [
    ("Validate.read_s", "s", "lower", "op_s.p50 rows_per_s", "csv_star csv_dirty"),
    ("Validate.read_mb", "MB", "lower", "op_s.p50 rows_per_s", "csv_star csv_dirty"),
    ("parse.self_s", "s", "lower", "op_s.p50 rows_per_s", "csv_star csv_dirty"),
    ("parse.cells_per_s", "1/s", "higher", "op_s.p50 rows_per_s", "csv_star csv_dirty"),
    ("parse.invalid_ratio", "ratio", "lower", "op_s.p50 op_s.tail", "csv_dirty"),
    ("report.json_kb", "KB", "lower", "op_s.p50 op_s.tail", "csv_dirty"),
    ("check.table_s", "s", "lower", "op_s.p50 op_s.tail", "csv_dirty"),
    ("Validate.cache_warm_s", "s", "lower", "op_s.p50 live_heap_mb", "csv_star csv_dirty"),
    ("Validate.cache_mb", "MB", "lower", "op_s.p50 live_heap_mb", "csv_star csv_dirty"),
    ("Validate.header_s", "s", "lower", "op_s.p50", "csv_star"),
    ("Validate.overlap_s", "s", "higher", "op_s.p50", "typed_small csv_star"),
    ("check.all_s", "s", "lower", "op_s.p50", "typed_small csv_star"),
    ("check.fk_s", "s", "lower", "op_s.p50", "typed_small csv_star"),
    ("spark.jobs_per_op", "count", "lower", "op_s.p50", "typed_small csv_star"),
    ("spark.tasks_per_op", "count", "lower", "op_s.p50", "typed_small csv_star"),
    ("spark.task_s_per_op", "s", "lower", "cpu_s_per_op", "all"),
    ("spark.core_util", "ratio", "higher", "cpu_s_per_op", "all"),
    ("spark.gc_s_per_op", "s", "lower", "op_s.tail live_heap_mb", "csv_dirty csv_star"),
    ("Validate.leaked_rdds", "count", "lower", "op_s.tail live_heap_mb", "csv_dirty csv_star"),
    ("schema.parse_s", "s", "lower", "op_s.p50", "csv_star csv_dirty"),
    ("report.fold_s", "s", "lower", "op_s.p50", "typed_small"),
    ("sources.check_s", "s", "lower", "op_s.p50 rows_per_s", "stream_ingest"),
    ("sources.admit_s", "s", "lower", "op_s.p50 rows_per_s", "stream_ingest"),
    ("sources.write_amp", "ratio", "lower", "op_s.p50 rows_per_s", "stream_ingest"),
    ("sources.disk_mb", "MB", "lower", "op_s.p50 rows_per_s", "stream_ingest"),
    ("sources.generations", "count", "lower", "op_s.p50 rows_per_s", "stream_ingest"),
    ("sources.compact_s", "s", "lower", "op_s.tail", "stream_ingest"),
    ("sources.compactions", "count", "lower", "op_s.tail", "stream_ingest"),
    ("streaming.batch_s", "s", "lower", "op_s.p50", "stream_ingest"),
    ("streaming.overhead_s", "s", "lower", "op_s.p50", "stream_ingest"),
    ("streaming.jobs_per_batch", "count", "lower", "op_s.p50", "stream_ingest"),
    ("check.shuffle_mb", "MB", "lower", "op_s.p50", "csv_star typed_small"),
    ("trace.coverage", "ratio", "higher", "-", "all"),
    ("fail_ratio", "ratio", "lower", "-", "all"),
]

# the spans that make up one op, in the order the op runs them; the
# others (Validate.read on CSV, check.table, check.fk) re-run part of
# that work on its own to attribute it
COMPOSING = {
    "csv": ["schema.parse", "Validate.header", "parse.table",
            "Validate.cache_warm", "check.all", "report.fold",
            "Validate.release"],
    "typed_small": ["Validate.read", "check.all", "report.fold"],
    "stream_ingest": ["sources.check", "sources.admit", "sources.compact"],
}


def _med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def metrics(spans, result, workload):
    csv = workload in ("csv_star", "csv_dirty")
    by_op = {}
    for s in spans:
        by_op.setdefault(s["trace"], []).append(s)
    traced = [ss for ss in by_op.values()
              if any(s["name"] == "op.traced" for s in ss)]
    untraced = [s for s in spans if s["name"] == "op.untraced"]

    def S(ss, name):
        return sum(_dur(s) for s in ss if s["name"] == name)

    def C(ss, name, key):
        return sum(s[key] for s in ss if s["name"] == name)

    def A(ss, name, key):
        return sum(s["attrs"].get(key, 0.0) for s in ss if s["name"] == name)

    def per_traced(f):
        return _med(f(ss) for ss in traced)

    def per_untraced(f):
        return _med(f(s) for s in untraced)

    cores = result["cores"]
    m = {}
    m["Validate.read_s"] = per_traced(lambda ss: S(ss, "Validate.read"))
    m["Validate.read_mb"] = per_traced(lambda ss: C(ss, "Validate.read", "input_bytes") / 1e6)
    if csv:
        m["parse.self_s"] = per_traced(
            lambda ss: S(ss, "parse.table") - S(ss, "Validate.read"))
        m["parse.cells_per_s"] = per_traced(
            lambda ss: A(ss, "op.traced", "cells") / S(ss, "parse.table"))
        m["parse.invalid_ratio"] = per_traced(
            lambda ss: A(ss, "parse.table", "invalid_cells") / A(ss, "op.traced", "cells"))
    else:
        m["parse.self_s"] = m["parse.cells_per_s"] = m["parse.invalid_ratio"] = 0.0
    m["report.json_kb"] = per_traced(lambda ss: A(ss, "report.fold", "json_bytes") / 1024)
    m["check.table_s"] = per_traced(lambda ss: S(ss, "check.table"))
    m["Validate.cache_warm_s"] = per_traced(lambda ss: S(ss, "Validate.cache_warm"))
    m["Validate.cache_mb"] = per_traced(
        lambda ss: C(ss, "Validate.cache_warm", "cached_bytes") / 1e6)
    m["Validate.header_s"] = per_traced(lambda ss: S(ss, "Validate.header"))
    m["Validate.overlap_s"] = per_traced(
        lambda ss: S(ss, "check.table") + S(ss, "check.fk") - S(ss, "check.all")
        if any(s["name"] == "check.all" for s in ss) else 0.0)
    m["check.all_s"] = per_traced(lambda ss: S(ss, "check.all"))
    m["check.fk_s"] = per_traced(lambda ss: S(ss, "check.fk"))
    m["spark.jobs_per_op"] = per_untraced(lambda s: s["jobs"])
    m["spark.tasks_per_op"] = per_untraced(lambda s: s["tasks"])
    m["spark.task_s_per_op"] = per_untraced(lambda s: s["task_ms"] / 1e3)
    m["spark.core_util"] = per_untraced(lambda s: s["task_ms"] / 1e3 / (_dur(s) * cores))
    m["spark.gc_s_per_op"] = per_untraced(lambda s: s["attrs"]["jvm_gc_ms"] / 1e3)
    leaked = result["leaked_rdds"]
    m["Validate.leaked_rdds"] = sum(leaked) / len(leaked) if leaked else 0.0
    m["schema.parse_s"] = per_traced(lambda ss: S(ss, "schema.parse"))
    m["report.fold_s"] = per_traced(lambda ss: S(ss, "report.fold"))
    m["sources.check_s"] = per_traced(lambda ss: S(ss, "sources.check"))
    m["sources.admit_s"] = per_traced(lambda ss: S(ss, "sources.admit"))
    m["sources.compact_s"] = per_traced(lambda ss: S(ss, "sources.compact"))
    if workload == "stream_ingest":
        m["sources.write_amp"] = per_traced(
            lambda ss: A(ss, "op.traced", "written_bytes") /
            max(A(ss, "op.traced", "admitted_bytes"), 1.0))
        m["sources.disk_mb"] = per_traced(lambda ss: A(ss, "op.traced", "disk_bytes") / 1e6)
        m["sources.generations"] = per_traced(lambda ss: A(ss, "op.traced", "generations"))
        runs = [s["attrs"].get("compactions", 0.0) for s in spans
                if s["name"] in ("op.traced", "op.untraced")]
        m["sources.compactions"] = sum(runs) / len(runs) if runs else 0.0
        m["streaming.batch_s"] = per_untraced(lambda s: s["attrs"]["batch_s"])
        m["streaming.overhead_s"] = (m["streaming.batch_s"] - m["sources.check_s"]
                                     - m["sources.admit_s"])
        m["streaming.jobs_per_batch"] = per_untraced(lambda s: s["attrs"]["batch_jobs"])
    else:
        for k in ("sources.write_amp", "sources.disk_mb", "sources.generations",
                  "sources.compactions", "streaming.batch_s",
                  "streaming.overhead_s", "streaming.jobs_per_batch"):
            m[k] = 0.0
    m["check.shuffle_mb"] = per_traced(
        lambda ss: C(ss, "check.all", "shuffle_write_bytes") / 1e6)
    parts = COMPOSING["csv" if csv else workload]
    base = _med(result["op_s"])
    m["trace.coverage"] = per_traced(
        lambda ss: sum(S(ss, n) for n in parts) / base) if base else 0.0
    m["fail_ratio"] = result["failed"] / result["attempted"]
    units = {n: u for n, u, *_ in LAYERS}
    assert set(m) == set(units), set(m) ^ set(units)
    return {n: {"value": m[n], "unit": units[n]} for n, *_ in LAYERS}
