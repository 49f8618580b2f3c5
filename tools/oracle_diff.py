#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (written by graft.Verify).

    tools/oracle_diff.py OLD.json NEW.json

Prints every query name that was added, removed, or whose oracle SQL
changed, then a one-line summary. Exits 1 on any difference, 0 when both
dumps hold the same names with byte-identical SQL.
"""
import json
import sys

if len(sys.argv) != 3:
    sys.exit(__doc__.strip())
old, new = (json.load(open(p, encoding="utf-8")) for p in sys.argv[1:])
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
