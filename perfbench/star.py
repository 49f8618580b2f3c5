"""The star-schema package the benchmark validates: its Table Schema
descriptor and a seeded generator of tables that follow it.

`SCHEMA` mirrors `graft.Tables.starSchema` field for field, because the
`typed_small` workload validates generated parquet against that Scala
object while the oracle reads this copy. A drift between the two makes
every `typed_small` op fail its gate, so it cannot pass unnoticed.
"""

import numpy as np
import pyarrow as pa

# (table, [(field, type, constraints)], primary key, [(fields, parent, parent fields)])
SCHEMA = [
    ("region",
     [("r_regionkey", "integer", {}),
      ("r_name", "string", {"unique": True})],
     ["r_regionkey"], []),
    ("nation",
     [("n_nationkey", "integer", {}),
      ("n_name", "string", {"required": True, "unique": True}),
      ("n_regionkey", "integer", {})],
     ["n_nationkey"], [(["n_regionkey"], "region", ["r_regionkey"])]),
    ("customer",
     [("c_custkey", "integer", {}), ("c_name", "string", {}),
      ("c_nationkey", "integer", {}), ("c_acctbal", "number", {}),
      ("c_mktsegment", "string", {})],
     ["c_custkey"], [(["c_nationkey"], "nation", ["n_nationkey"])]),
    ("supplier",
     [("s_suppkey", "integer", {}), ("s_name", "string", {}),
      ("s_nationkey", "integer", {}), ("s_acctbal", "number", {})],
     ["s_suppkey"], [(["s_nationkey"], "nation", ["n_nationkey"])]),
    ("part",
     [("p_partkey", "integer", {}), ("p_name", "string", {}),
      ("p_brand", "string", {}), ("p_type", "string", {}),
      ("p_size", "integer", {"minimum": "1"}),
      ("p_retailprice", "number", {"minimum": "0"})],
     ["p_partkey"], []),
    ("orders",
     [("o_orderkey", "integer", {}), ("o_custkey", "integer", {}),
      ("o_orderstatus", "string", {"enum": ["F", "O", "P"]}),
      ("o_totalprice", "number", {"minimum": "0"}),
      ("o_orderdate", "datetime", {}),
      ("o_orderpriority", "string", {"pattern": "[1-5]-[A-Z ]+"})],
     ["o_orderkey"], [(["o_custkey"], "customer", ["c_custkey"])]),
    ("lineitem",
     [("l_orderkey", "integer", {}), ("l_partkey", "integer", {}),
      ("l_suppkey", "integer", {}), ("l_linenumber", "integer", {}),
      ("l_quantity", "number", {"minimum": "0"}),
      ("l_extendedprice", "number", {"minimum": "0"}),
      ("l_discount", "number", {"minimum": "0", "maximum": "1"}),
      ("l_tax", "number", {}),
      ("l_returnflag", "string", {"enum": ["A", "N", "R"]}),
      ("l_linestatus", "string", {"enum": ["F", "O"]}),
      ("l_shipdate", "datetime", {})],
     ["l_orderkey", "l_linenumber"],
     [(["l_orderkey"], "orders", ["o_orderkey"]),
      (["l_partkey"], "part", ["p_partkey"]),
      (["l_suppkey"], "supplier", ["s_suppkey"])]),
    ("events",
     [("event_id", "integer", {}),
      ("ts", "datetime", {"required": True}),
      ("user_id", "integer", {}),
      ("event_type", "string", {"required": True}),
      ("value", "number", {}), ("props", "string", {})],
     ["event_id"], []),
    ("documents",
     [("doc_id", "integer", {}), ("text", "string", {}),
      ("lang", "string", {"minLength": 2, "maxLength": 2}),
      ("source", "string", {}),
      ("n_chars", "integer", {"minimum": "0"})],
     ["doc_id"], []),
    ("embeddings",
     [("vec_id", "integer", {}), ("embedding", "string", {}),
      ("label", "integer", {"minimum": "0"})],
     ["vec_id"], []),
]

# tables with a flat CSV form (embeddings holds a float array)
CSV_TABLES = [t[0] for t in SCHEMA if t[0] not in ("documents", "embeddings")]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "search", "logout"]
LANGS = ["en", "de", "fr", "es", "it"]
DAY0 = np.datetime64("1992-01-01T00:00:00", "s")


def schema_of(name):
    return next(t for t in SCHEMA if t[0] == name)


def _ts(rng, n, days):
    secs = rng.integers(0, days * 86400, n)
    return (DAY0 + secs.astype("timedelta64[s]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _labels(prefix, keys, width=9):
    return np.char.add(prefix, np.char.zfill(keys.astype(str), width))


def orders_keys(rng, n):
    """Sparse ascending order keys, as TPC-H spreads them."""
    return np.sort(rng.choice(4 * n, n, replace=False)).astype(np.int64) + 1


def generate(rng, sf, tables):
    """Seeded star tables at scale factor `sf` as `{name: {col: ndarray}}`.

    Foreign keys always resolve and no constraint is violated, except for
    the planted violations `plant` adds afterwards.
    """
    n_cust = max(int(150000 * sf), 50)
    n_supp = max(int(10000 * sf), 10)
    n_part = max(int(200000 * sf), 50)
    n_ord = max(int(1500000 * sf), 100)
    out = {}
    out["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])}
    out["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": _labels("NATION_", np.arange(25), 2),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    out["customer"] = {
        "c_custkey": ck, "c_name": _labels("Customer#", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    out["supplier"] = {
        "s_suppkey": sk, "s_name": _labels("Supplier#", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    out["part"] = {
        "p_partkey": pk, "p_name": _labels("part ", pk, 7),
        "p_brand": np.char.add("Brand#", rng.integers(11, 56, n_part)
                               .astype(str)),
        "p_type": rng.choice(["STANDARD TIN", "SMALL BRASS", "LARGE COPPER",
                              "ECONOMY STEEL", "PROMO NICKEL"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, 900, 2100, n_part)}
    ok = orders_keys(rng, n_ord)
    out["orders"] = {
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 800, 500000, n_ord),
        "o_orderdate": _ts(rng, n_ord, 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = {
        "l_orderkey": np.repeat(ok, lines),
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, 2500)}
    n_ev = max(int(1000000 * sf), 100)
    ev_type = rng.choice(EVENT_TYPES, n_ev).astype(object)
    out["events"] = {
        "event_id": np.arange(1, n_ev + 1, dtype=np.int64),
        "ts": _ts(rng, n_ev, 365),
        "user_id": rng.integers(1, n_cust + 1, n_ev).astype(np.int64),
        "event_type": ev_type,
        "value": _money(rng, 0, 500, n_ev),
        # quotes and commas: exercises the doubled-quote CSV dialect
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev)
                                         .astype(str)), ', "v": "x"}')}
    if "documents" in tables:
        n_doc = max(int(50000 * sf), 50)
        words = rng.integers(3, 40, n_doc)
        text = np.array([" ".join(["w%d" % (j % 97) for j in range(w)])
                         for w in words])
        out["documents"] = {
            "doc_id": np.arange(1, n_doc + 1, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, n_doc),
            "source": rng.choice(["web", "books", "news"], n_doc),
            "n_chars": np.char.str_len(text).astype(np.int64)}
    if "embeddings" in tables:
        n_emb = max(int(50000 * sf), 50)
        out["embeddings"] = {
            "vec_id": np.arange(1, n_emb + 1, dtype=np.int64),
            "embedding": rng.standard_normal((n_emb, 8)).astype(np.float32),
            "label": rng.integers(0, 10, n_emb).astype(np.int32)}
    return {t: out[t] for t in tables}


def take_rows(cols, idx):
    return {c: v[idx] for c, v in cols.items()}


def append_rows(cols, extra):
    return {c: np.concatenate([v, extra[c]]) for c, v in cols.items()}


def plant(rng, data):
    """Light violations every star fixture carries, as a shipped lake
    drop does: duplicated lineitem rows (primary-key errors), parts of
    size 0, events without a type, documents with a 3-letter language.
    Rows are drawn from a seeded permutation and returned as the
    untouched remainder per table, so later corruption stays disjoint.
    """
    free = {t: rng.permutation(len(next(iter(c.values()))))
            for t, c in data.items()}

    def draw(t, n):
        rows, free[t] = free[t][:n], free[t][n:]
        return rows

    li = data["lineitem"]
    n_li = len(li["l_orderkey"])
    dup_src = draw("lineitem", max(n_li // 100, 1))
    twice = dup_src[: len(dup_src) // 5]
    data["lineitem"] = append_rows(li, take_rows(
        li, np.concatenate([dup_src, twice])))
    data["part"]["p_size"][draw("part", 3)] = 0
    ev = data["events"]
    ev["event_type"][draw("events", max(len(ev["event_id"]) // 500, 1))] = None
    if "documents" in data:
        data["documents"]["lang"] = data["documents"]["lang"].astype(object)
        data["documents"]["lang"][draw("documents", 2)] = "xyz"
    return free


def arrow_table(cols):
    arrays = {}
    for c, v in cols.items():
        if v.dtype == object:
            arrays[c] = pa.array(v.tolist(), type=pa.string())
        elif v.ndim == 2:
            arrays[c] = pa.array(list(v), type=pa.list_(pa.float32()))
        else:
            arrays[c] = pa.array(v)
    return pa.table(arrays)


def csv_strings(v):
    """One column as CSV cell strings (None = empty cell)."""
    if v.dtype == object:
        return v
    if np.issubdtype(v.dtype, np.datetime64):
        return np.datetime_as_string(v, unit="s").astype(object)
    if np.issubdtype(v.dtype, np.floating):
        return np.array([repr(x) for x in v.tolist()], dtype=object)
    return v.astype(str).astype(object)


def descriptor(name, resources):
    """A datapackage.json body for `resources` = [(table, [paths])]."""
    res = []
    for table, paths in resources:
        _, fields, pk, fks = schema_of(table)
        fdesc = []
        for fname, ftype, cons in fields:
            f = {"name": fname, "type": ftype}
            if cons:
                f["constraints"] = cons
            fdesc.append(f)
        schema = {"fields": fdesc, "primaryKey": pk}
        if fks:
            schema["foreignKeys"] = [
                {"fields": c, "reference": {"resource": p, "fields": pf}}
                for c, p, pf in fks]
        res.append({"name": table, "path": paths, "profile":
                    "tabular-data-resource", "schema": schema})
    return {"name": name, "resources": res}
