#!/usr/bin/env python3
"""Canonical form of a `graft.Prof` plan dump, for diffing two trees.

`runMain graft.Prof e2e_validate_csv` with SPARK_GRAFT_EXPLAIN_DIR set
writes the physical plan of every SQL execution the query ran. Those
executions run concurrently, so their order, their execution ids and
their expression ids depend on the schedule, and the callsites carry
source line numbers; index rows also name tables after the process id,
read them from the checkout's warehouse, and print JVM lambda identities
in their DDL. This script drops all of that and sorts the executions,
so two dumps diff empty exactly when the same set of plans ran.

    python3 tools/plan_canon.py DUMP.txt > CANON.txt
"""
import re
import sys

SUBS = [
    # callsite line numbers: "collect at Validate.scala:397"
    (re.compile(r"(\w+\.scala):\d+"), r"\1"),
    # expression ids, plan ids, RDD ids, codegen stage ids
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    # the CSV fixture's location and its writer's file ids
    (re.compile(r"file:\S*?/csv_fixture/"), "<fixture>/"),
    (re.compile(r"part-\d+-[0-9a-f-]{36}-c000"), "part-<id>"),
    # the checkout's warehouse, and the process id in the index tables'
    # names and their staging dirs
    (re.compile(r"(?:file:)?/\S*?/spark-warehouse/"), "<warehouse>/"),
    (re.compile(r"_p\d+(?=_|\b)"), "_p<pid>"),
    (re.compile(r"staging-p\d+t"), "staging-p<pid>t"),
    # JVM lambda class names and object identities in DDL arguments
    (re.compile(r"\$\$Lambda\$?[\w/]*@[0-9a-f]+"), "$$Lambda<id>"),
]

HEADER = re.compile(r"^===== internal execution \d+: (.*) =====$", re.M)


def canon(text):
    for pat, rep in SUBS:
        text = pat.sub(rep, text)
    parts = HEADER.split(text)
    # parts = [returned frame's plan, desc1, plan1, desc2, plan2, ...]
    blocks = sorted(
        "===== execution: %s =====\n%s" % (d, p.strip() + "\n")
        for d, p in zip(parts[1::2], parts[2::2]))
    return parts[0].strip() + "\n\n" + "\n".join(blocks)


if __name__ == "__main__":
    with open(sys.argv[1], encoding="utf-8") as f:
        sys.stdout.write(canon(f.read()))
