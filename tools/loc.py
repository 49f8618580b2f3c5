#!/usr/bin/env python3
"""Count code and comment lines of a Scala file, or list its public defs.

    tools/loc.py FILE [--lines A:B] [--ref REF] [--defs]

Code lines are non-blank lines that are not only comment; comment lines
are those inside a /* ... */ block (scaladoc included) or starting with
//. --lines limits the count to lines A..B (1-based, inclusive); --ref
reads the file as committed at a git ref instead of the work tree.
--defs prints each def at the file's outermost def indentation that is
not private or protected, its signature joined onto one line up to the
body's `=`, so two outputs diff cleanly.
"""
import argparse
import re
import subprocess

ap = argparse.ArgumentParser()
ap.add_argument("file")
ap.add_argument("--lines", help="A:B, 1-based and inclusive")
ap.add_argument("--ref", help="git ref to read the file at")
ap.add_argument("--defs", action="store_true")
a = ap.parse_args()
text = (subprocess.run(["git", "show", f"{a.ref}:./{a.file}"], check=True,
                       capture_output=True, text=True).stdout
        if a.ref else open(a.file, encoding="utf-8").read())
lines = text.split("\n")
if a.lines:
    lo, hi = (int(x) for x in a.lines.split(":"))
    lines = lines[lo - 1:hi]

if a.defs:
    indent = min((len(l) - len(l.lstrip()) for l in lines
                  if re.match(r"\s*def ", l)), default=0)
    for i, l in enumerate(lines):
        if not re.match(" " * indent + "def ", l):
            continue
        sig, depth = "", 0
        for l2 in lines[i:]:
            for ch in l2.strip() + " ":
                depth += (ch in "([") - (ch in ")]")
                if ch == "=" and depth == 0:
                    break
                sig += ch
            else:
                continue
            break
        sig = re.sub(r"\s+", " ", sig).strip()
        print(re.sub(r"\s+(?=[:)\]])|(?<=[(\[])\s+", "", sig))
else:
    code = comment = 0
    in_block = False
    for l in lines:
        s = l.strip()
        if in_block or s.startswith("/*") or s.startswith("//"):
            comment += bool(s)
            in_block = (in_block or s.startswith("/*")) and "*/" not in s
        elif s:
            code += 1
    print(f"code {code} comment {comment}")
