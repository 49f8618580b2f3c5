"""Independent recomputation of a star package's validation report.

DuckDB evaluates every constraint, key and foreign-key check straight
from the Table Schema rules, without going through `Checks` or
`Validate`. The result has the shape of `PackageReport.toJson`: failing
checks only, each with its violation count and its bounded sample.
"""

import duckdb

import star

MAX_VALUES = 100

CODES = {
    "required": "required-constraint",
    "minLength": "minimum-length-constraint",
    "maxLength": "maximum-length-constraint",
    "minimum": "minimum-constraint",
    "maximum": "maximum-constraint",
    "pattern": "pattern-constraint",
    "enum": "enumerable-constraint",
}


def _q(name):
    return '"%s"' % name


def _lit(ftype, value):
    if ftype in ("integer", "number"):
        return str(value)
    return "'%s'" % str(value).replace("'", "''")


def _violation(ftype, field, tag, value):
    c = _q(field)
    if tag == "required":
        return "%s IS NULL" % c
    if tag == "minLength":
        return "%s IS NOT NULL AND length(%s) < %d" % (c, c, value)
    if tag == "maxLength":
        return "%s IS NOT NULL AND length(%s) > %d" % (c, c, value)
    if tag == "minimum":
        return "%s < %s" % (c, _lit(ftype, value))
    if tag == "maximum":
        return "%s > %s" % (c, _lit(ftype, value))
    if tag == "pattern":
        return "%s IS NOT NULL AND NOT regexp_full_match(%s, %s)" % (
            c, c, _lit("string", value))
    if tag == "enum":
        return "%s IS NOT NULL AND %s NOT IN (%s)" % (
            c, c, ", ".join(_lit(ftype, v) for v in value))
    raise ValueError(tag)


def _fmt(row):
    return ",".join(str(v) for v in row)


def _dups(con, table, cols):
    keys = ", ".join(_q(c) for c in cols)
    nonnull = " AND ".join("%s IS NOT NULL" % _q(c) for c in cols)
    n = con.execute(
        "SELECT coalesce(sum(cnt - 1), 0) FROM (SELECT count(*) cnt FROM %s "
        "WHERE %s GROUP BY %s HAVING count(*) > 1)" % (table, nonnull, keys)
    ).fetchone()[0]
    sample = con.execute(
        "SELECT %s FROM %s WHERE %s GROUP BY %s HAVING count(*) > 1 "
        "ORDER BY %s LIMIT %d" % (keys, table, nonnull, keys, keys, MAX_VALUES)
    ).fetchall()
    return int(n), [_fmt(r) for r in sample]


def _orphans(con, child, cols, parent, pcols):
    keys = ", ".join(_q(c) for c in cols)
    nonnull = " AND ".join("%s IS NOT NULL" % _q(c) for c in cols)
    match = " AND ".join("p.%s = c.%s" % (_q(p), _q(c))
                         for c, p in zip(cols, pcols))
    orphan = ("SELECT %s FROM %s c WHERE %s AND NOT EXISTS "
              "(SELECT 1 FROM %s p WHERE %s)" % (
                  keys, child, nonnull, parent, match))
    n = con.execute("SELECT count(*) FROM (%s)" % orphan).fetchone()[0]
    sample = con.execute(
        "SELECT DISTINCT %s FROM (%s) ORDER BY %s LIMIT %d" % (
            keys, orphan, keys, MAX_VALUES)).fetchall()
    return int(n), [_fmt(r) for r in sample]


def report(arrow_tables, order):
    """Expected report over `{name: pyarrow.Table}`, tables in package
    `order`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in order:
        con.register(t, arrow_tables[t])
    out = []
    for t in order:
        _, fields, pk, fks = star.schema_of(t)
        errs = []
        for fname, ftype, cons in fields:
            for tag in ("required", "minLength", "maxLength", "minimum",
                        "maximum", "pattern", "enum"):
                if tag not in cons or (tag == "required" and not cons[tag]):
                    continue
                n = con.execute("SELECT count(*) FROM %s WHERE %s" % (
                    _q(t), _violation(ftype, fname, tag, cons[tag]))).fetchone()[0]
                errs.append((CODES[tag], fname, int(n), []))
            if cons.get("unique"):
                n, s = _dups(con, _q(t), [fname])
                errs.append(("unique-constraint", fname, n, s))
        if pk:
            n, s = _dups(con, _q(t), pk)
            errs.append(("primary-key-error", ",".join(pk), n, s))
            nulls = con.execute("SELECT count(*) FROM %s WHERE %s" % (
                _q(t), " OR ".join("%s IS NULL" % _q(c) for c in pk))).fetchone()[0]
            errs.append(("required-constraint", ",".join(pk), int(nulls), []))
        for cols, parent, pcols in fks:
            n, s = _orphans(con, _q(t), cols, _q(parent), pcols)
            errs.append(("foreign-key-error", "%s->%s.%s" % (
                ",".join(cols), parent, ",".join(pcols)), n, s))
        out.append({"table": t, "errors": [
            {"code": c, "field": f, "violations": n, "values": v}
            for c, f, n, v in errs if n > 0]})
    con.close()
    return finish(out)


def finish(tables):
    """Add the package- and table-level verdicts `toJson` carries."""
    for t in tables:
        t["valid"] = not t["errors"]
    return {"valid": all(t["valid"] for t in tables),
            "error-count": sum(e["violations"] for t in tables
                               for e in t["errors"]),
            "tables": tables}
