#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (written by graft.Verify).

    tools/oracle_diff.py OLD.json NEW.json

Prints every query name that was added, removed, or whose oracle SQL
changed, then a one-line summary. Exits 1 on any difference, 0 when both
dumps hold the same names with byte-identical SQL.

The x_zipf_* oracles read a fixture under the checkout that made the
dump (`read_parquet('<checkout>/target/zipf_fixture/...`), so the
checkout prefix of that one path is replaced by a placeholder in both
dumps before comparing, and the number of SQL strings rewritten in each
is printed. Nothing else in the SQL is touched, so two dumps of one
commit made from two directories compare equal.
"""
import json
import re
import sys

FIXTURE = re.compile(r"read_parquet\('[^']*?(?=/target/zipf_fixture/)")

if len(sys.argv) != 3:
    sys.exit(__doc__.strip())


def load(path):
    dump = json.load(open(path, encoding="utf-8"))
    out = {k: FIXTURE.sub("read_parquet('<checkout>", v)
           for k, v in dump.items()}
    n = sum(out[k] != dump[k] for k in dump)
    print(f"{path}: checkout prefix rewritten in {n} oracle strings")
    return out


old, new = (load(p) for p in sys.argv[1:])
added = sorted(new.keys() - old.keys())
removed = sorted(old.keys() - new.keys())
changed = sorted(k for k in old.keys() & new.keys() if old[k] != new[k])
for tag, names in (("added", added), ("removed", removed),
                   ("changed", changed)):
    for n in names:
        print(f"{tag}: {n}")
print(f"{len(old)} -> {len(new)} names: {len(added)} added, "
      f"{len(removed)} removed, {len(changed)} changed")
sys.exit(1 if added or removed or changed else 0)
