"""Seeded inputs and expected outcomes, one directory per (workload, seed).

Every workload's inputs derive from `--seed` alone, so the same seed
gives byte-identical files. The program under test only ever sees the
files written here; the expected outcome beside them is what each op's
correctness gate compares against:

- csv_star:      DuckDB recomputation over the parquet twin (oracle.py);
- csv_dirty:     a manifest built by construction from the corruption plan;
- typed_small:   DuckDB recomputation over the parquet inputs;
- stream_ingest: per-batch violations recomputed without batches, from
                 the history and every batch before.
"""

import collections
import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle
import star

# Scale factors (TPC-H rows x sf). Picked so one op of each workload
# takes well under a second or two on 4 cores and a run gets tens of ops.
SF_CSV = 0.01
SF_TYPED = 0.01
CSV_PARTS = 3
STREAM_HISTORY_SF = 0.1
STREAM_BATCH = 2000
STREAM_BATCHES = 150

# fields a corruption may make unparsable: typed, and in no key
CORRUPTIBLE = [
    ("lineitem", "l_quantity"), ("lineitem", "l_extendedprice"),
    ("lineitem", "l_tax"), ("lineitem", "l_shipdate"),
    ("orders", "o_totalprice"), ("orders", "o_orderdate"),
    ("part", "p_retailprice"), ("customer", "c_acctbal"),
    ("supplier", "s_acctbal"), ("events", "value"), ("events", "ts")]
BAD_PREFIXES = ["x", "?", "n.a.", "err-", "1.2."]


class Ledger:
    """Expected failing checks, accumulated as violations are planted."""

    def __init__(self):
        self.entries = collections.OrderedDict()

    def add(self, table, code, field, n, keys=()):
        e = self.entries.setdefault((table, code, field), [0, set()])
        e[0] += int(n)
        e[1].update(keys)

    def drop_field(self, table, field):
        for k in [k for k in self.entries if k[0] == table and k[2] == field]:
            del self.entries[k]

    def report(self, tables):
        out = []
        for t in tables:
            errs = [{"code": c, "field": f, "violations": n,
                     "values": [k if isinstance(k, str) else
                                ",".join(str(x) for x in k)
                                for k in sorted(keys)[:oracle.MAX_VALUES]]}
                    for (tt, c, f), (n, keys) in self.entries.items()
                    if tt == t and n > 0]
            out.append({"table": t, "errors": errs})
        return oracle.finish(out)


def _rows(cols):
    return len(next(iter(cols.values())))


def _star(seed, sf, tables):
    rng = np.random.default_rng([seed, 7])
    data = star.generate(rng, sf, tables)
    n_li = _rows(data["lineitem"])
    free = star.plant(rng, data)
    return rng, data, free, n_li


def clean_ledger(data, n_li):
    """The violations `star.plant` put into clean star tables. Rows from
    `n_li` on are appended copies, each repeating a lineitem key."""
    led = Ledger()
    li = data["lineitem"]
    keys = list(zip(li["l_orderkey"][n_li:].tolist(),
                    li["l_linenumber"][n_li:].tolist()))
    led.add("lineitem", "primary-key-error", "l_orderkey,l_linenumber",
            len(keys), set(keys))
    led.add("part", "minimum-constraint", "p_size",
            int((data["part"]["p_size"] < 1).sum()))
    ev = data["events"]["event_type"]
    led.add("events", "required-constraint", "event_type",
            sum(v is None for v in ev.tolist()))
    return led


def _write_csv(cols, path):
    """RFC 4180 with quotes only where a cell needs them."""
    cells = [star.csv_strings(v).tolist() for v in cols.values()]
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(list(cols))
        w.writerows(zip(*cells))


def _write_csv_package(rng, data, out, root):
    """Each table of 1,000 rows or more as CSV_PARTS header'd part files
    cut at seeded rows, smaller ones as one; returns the descriptor's
    resources with paths relative to `root`. The part count is fixed
    because it sets the number of read tasks, so seeds differ in data,
    not in parallelism."""
    resources = []
    for t in star.CSV_TABLES:
        cols = data[t]
        n = _rows(cols)
        parts = CSV_PARTS if n >= 1000 else 1
        cuts = np.sort(rng.choice(np.arange(1, n), parts - 1, replace=False)) \
            if parts > 1 else np.array([], dtype=int)
        bounds = [0] + cuts.tolist() + [n]
        d = os.path.join(out, "csv", t)
        os.makedirs(d, exist_ok=True)
        paths = []
        for i in range(parts):
            p = os.path.join(d, "part-%d.csv" % i)
            _write_csv({c: v[bounds[i]:bounds[i + 1]] for c, v in cols.items()}, p)
            paths.append(os.path.relpath(p, root))
        resources.append((t, paths))
    return resources


def _write_parquet(data, out):
    d = os.path.join(out, "parquet")
    os.makedirs(d, exist_ok=True)
    tables = {}
    for t, cols in data.items():
        tables[t] = star.arrow_table(cols)
        pq.write_table(tables[t], os.path.join(d, t + ".parquet"))
    return d, tables


def _json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f)


def csv_star(seed, out, root):
    rng, data, _, _ = _star(seed, SF_CSV, star.CSV_TABLES)
    pdir, tables = _write_parquet(data, out)
    res = _write_csv_package(rng, data, out, root)
    _json(star.descriptor("star_csv", res), os.path.join(out, "datapackage.json"))
    _json(oracle.report(tables, star.CSV_TABLES), os.path.join(out, "expected.json"))
    rows = sum(_rows(c) for c in data.values())
    cells = sum(_rows(c) * len(c) for c in data.values())
    return {"rows": rows, "cells": cells,
            "parquet": os.path.relpath(pdir, root)}


def corrupt(rng, data, free, led):
    """The csv_dirty plan: planted constraint violations, duplicated
    orders, orphan foreign keys, then a large share of unparsable cells
    in a seeded set of typed fields. Updates `led` by construction and
    returns the tables as CSV cell strings."""

    def draw(t, n):
        rows, free[t] = free[t][:n], free[t][n:]
        return rows

    def share(t, lo, hi):
        return max(int(_rows(data[t]) * rng.uniform(lo, hi)), 1)

    for t, f, bad, code in [
            ("orders", "o_orderstatus", "X", "enumerable-constraint"),
            ("orders", "o_orderpriority", "9-BAD", "pattern-constraint"),
            ("lineitem", "l_returnflag", "Z", "enumerable-constraint"),
            ("lineitem", "l_discount", 1.5, "maximum-constraint"),
            ("lineitem", "l_quantity", -1.0, "minimum-constraint"),
            ("events", "event_type", None, "required-constraint")]:
        rows = draw(t, share(t, 0.005, 0.02))
        if isinstance(bad, str) or bad is None:
            data[t][f] = data[t][f].astype(object)
        data[t][f][rows] = bad
        led.add(t, code, f, len(rows))

    od = data["orders"]
    src = draw("orders", share("orders", 0.005, 0.02))
    data["orders"] = star.append_rows(od, star.take_rows(od, src))
    led.add("orders", "primary-key-error", "o_orderkey", len(src),
            {(k,) for k in od["o_orderkey"][src].tolist()})
    for t, f, parent, pf, top in [
            ("lineitem", "l_partkey", "part", "p_partkey",
             _rows(data["part"])),
            ("orders", "o_custkey", "customer", "c_custkey",
             _rows(data["customer"]))]:
        rows = draw(t, share(t, 0.002, 0.01))
        vals = top + 1 + rng.choice(10 * len(rows) + 10, len(rows), replace=False)
        data[t][f][rows] = vals
        led.add(t, "foreign-key-error", "%s->%s.%s" % (f, parent, pf),
                len(rows), {(v,) for v in vals.tolist()})

    # skip semantics: a field with any unparsable cell loses its
    # constraint results. l_discount always (its planted maximum
    # violations must vanish); p_size never (its minimum ones must stay).
    pick = rng.choice(len(CORRUPTIBLE), int(rng.integers(3, 7)), replace=False)
    chosen = [("lineitem", "l_discount")] + [CORRUPTIBLE[i] for i in pick]
    strings = {t: {c: star.csv_strings(v).copy() for c, v in cols.items()}
               for t, cols in data.items()}
    for t, f in chosen:
        pool = free[t]
        rows = rng.choice(pool, max(int(len(pool) * rng.uniform(0.2, 0.6)), 1),
                          replace=False)
        prefixes = rng.choice(BAD_PREFIXES, len(rows))
        tokens = np.char.add(prefixes, rng.integers(0, 10 ** 6, len(rows))
                             .astype(str)).astype(object)
        strings[t][f][rows] = tokens
        led.drop_field(t, f)
        led.add(t, "type-or-format-error", f, len(rows), set(tokens.tolist()))
    return strings, ["%s.%s" % c for c in chosen]


def csv_dirty(seed, out, root):
    rng, data, free, n_li = _star(seed, SF_CSV, star.CSV_TABLES)
    led = clean_ledger(data, n_li)
    strings, chosen = corrupt(np.random.default_rng([seed, 11]), data, free, led)
    res = _write_csv_package(rng, strings, out, root)
    _json(star.descriptor("star_csv_dirty", res),
          os.path.join(out, "datapackage.json"))
    _json(led.report(star.CSV_TABLES), os.path.join(out, "expected.json"))
    rows = sum(_rows(c) for c in data.values())
    cells = sum(_rows(c) * len(c) for c in data.values())
    return {"rows": rows, "cells": cells, "corrupted": chosen}


def typed_small(seed, out, root):
    _, data, _, _ = _star(seed, SF_TYPED, [t[0] for t in star.SCHEMA])
    pdir, tables = _write_parquet(data, out)
    _json(oracle.report(tables, [t[0] for t in star.SCHEMA]),
          os.path.join(out, "expected.json"))
    return {"rows": sum(_rows(c) for c in data.values()),
            "parquet": os.path.relpath(pdir, root)}


def stream_ingest(seed, out, root):
    """History = the order keys of an sf0.1 orders table. Each batch
    mixes fresh keys, keys already in history, fresh keys of earlier
    batches sent again, and keys repeated inside the batch."""
    rng = np.random.default_rng([seed, 13])
    n_hist = int(1500000 * STREAM_HISTORY_SF)
    hist = star.orders_keys(rng, n_hist)
    pq.write_table(pa.table({"o_orderkey": hist}),
                   os.path.join(out, "history.parquet"))
    bdir = os.path.join(out, "batches")
    os.makedirs(bdir, exist_ok=True)
    seen = collections.Counter(hist.tolist())
    next_fresh = 4 * n_hist + 1
    n_sent = 0  # fresh keys of earlier batches are fresh_base + [0, n_sent)
    fresh_base = next_fresh
    expected = []
    for b in range(STREAM_BATCHES):
        n_hist_dup = int(STREAM_BATCH * rng.uniform(0.05, 0.15))
        n_again = min(int(STREAM_BATCH * rng.uniform(0.05, 0.15)), n_sent)
        n_inner = int(STREAM_BATCH * rng.uniform(0.02, 0.08))
        n_fresh = STREAM_BATCH - n_hist_dup - n_again - n_inner
        fresh = np.arange(next_fresh, next_fresh + n_fresh, dtype=np.int64)
        next_fresh += n_fresh
        parts = [fresh, rng.choice(hist, n_hist_dup, replace=False)]
        if n_again:
            parts.append(fresh_base + rng.choice(n_sent, n_again, replace=False))
        body = np.concatenate(parts)
        keys = rng.permutation(np.concatenate(
            [body, rng.choice(body, n_inner)]))
        pq.write_table(pa.table({"o_orderkey": keys}),
                       os.path.join(bdir, "batch-%05d.parquet" % b))
        new = collections.Counter(keys.tolist())
        expected.append(sorted([k, n, seen[k]] for k, n in new.items()
                               if n + seen[k] > 1))
        seen.update(new)
        n_sent += n_fresh
    _json(expected, os.path.join(out, "expected_batches.json"))
    return {"rows": STREAM_BATCH, "history": os.path.relpath(
        os.path.join(out, "history.parquet"), root),
        "batches": os.path.relpath(bdir, root), "n_batches": STREAM_BATCHES}


def stream_totals(out, n_batches):
    """Violation totals after `n_batches` batches, recomputed without
    batches: every batch key whose count over history and batches 1..n
    exceeds one, with that count."""
    hist = pq.read_table(os.path.join(out, "history.parquet"))
    seen = collections.Counter(hist.column(0).to_pylist())
    touched = set()
    for b in range(n_batches):
        keys = pq.read_table(os.path.join(out, "batches", "batch-%05d.parquet" % b))
        ks = keys.column(0).to_pylist()
        seen.update(ks)
        touched.update(ks)
    return sorted([k, seen[k]] for k in touched if seen[k] > 1)


BUILDERS = {"csv_star": csv_star, "csv_dirty": csv_dirty,
            "typed_small": typed_small, "stream_ingest": stream_ingest}
