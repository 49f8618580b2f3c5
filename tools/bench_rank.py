#!/usr/bin/env python3
"""Rank bench rows from a target/bench*.json artifact.

Usage: bench_rank.py <bench.json> [N]
Prints top-N by median wall with task_ms/gc/jobs attribution, cumulative
share, and a family rollup. Optionally diffs two artifacts:
bench_rank.py <before.json> <after.json> [N] -> per-query delta table.
"""
import json
import re
import sys


def load(p):
    with open(p) as f:
        return json.load(f)


def med(xs):
    xs = sorted(xs)
    return xs[(len(xs) - 1) // 2] if xs else -1


def fam(name):
    m = re.match(r"(x_[a-z]+|[a-z0-9]+)_", name)
    return m.group(1) if m else name


def table(d, n):
    qs = d["queries"]
    task = d.get("task_ms", {})
    gc = d.get("gc_ms", {})
    jobs = d.get("jobs", {})
    rows = sorted(qs.items(), key=lambda kv: -kv[1])
    if not any(v >= 0 for v in qs.values()):
        print(f"no successful rows in artifact ({len(qs)} entries, "
              f"all walls < 0)")
        return
    total = sum(v for v in qs.values() if v >= 0)
    print(f"total {total:.1f}s over {len(qs)} entries")
    cum = 0.0
    print(f"{'query':44s} {'wall':>7s} {'cum%':>5s} {'task_ms':>8s} "
          f"{'gc_ms':>6s} {'jobs':>5s}")
    for k, v in rows[:n]:
        cum += max(v, 0)
        share = 100 * cum / total if total > 0 else 0.0
        print(f"{k:44s} {v:7.2f} {share:5.1f} "
              f"{med(task.get(k, [])):8d} {med(gc.get(k, [])):6d} "
              f"{med(jobs.get(k, [])):5d}")
    print("\nfamily rollup (sum of medians):")
    byfam = {}
    for k, v in qs.items():
        if v >= 0:
            byfam.setdefault(fam(k), [0.0, 0])
            byfam[fam(k)][0] += v
            byfam[fam(k)][1] += 1
    for f, (s, c) in sorted(byfam.items(), key=lambda kv: -kv[1][0])[:20]:
        print(f"  {f:20s} {s:8.1f}s over {c:3d} rows")


def diff(a, b, n):
    qa, qb = a["queries"], b["queries"]
    rows = []
    for k in qa:
        if k in qb and qa[k] >= 0 and qb[k] >= 0:
            rows.append((k, qa[k], qb[k], qb[k] - qa[k]))
    rows.sort(key=lambda r: r[3])
    ta = sum(v for v in qa.values() if v >= 0)
    tb = sum(v for v in qb.values() if v >= 0)
    print(f"total before {ta:.1f}s  after {tb:.1f}s  delta {tb-ta:+.1f}s")
    print(f"{'query':44s} {'before':>7s} {'after':>7s} {'delta':>7s}")
    for k, va, vb, dl in rows[:n]:
        print(f"{k:44s} {va:7.2f} {vb:7.2f} {dl:+7.2f}")
    print("...worst:")
    for k, va, vb, dl in rows[-n:]:
        print(f"{k:44s} {va:7.2f} {vb:7.2f} {dl:+7.2f}")


if __name__ == "__main__":
    args = sys.argv[1:]
    if len(args) >= 2 and args[1].endswith(".json"):
        diff(load(args[0]), load(args[1]),
             int(args[2]) if len(args) > 2 else 30)
    else:
        table(load(args[0]), int(args[1]) if len(args) > 1 else 60)
