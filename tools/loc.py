#!/usr/bin/env python3
"""Count code and comment lines of Scala source, or list its public defs.

    tools/loc.py PATH [--lines A:B] [--ref REF] [--defs]

PATH is a file or a directory; a directory stands for every *.scala
file under it. Code lines are non-blank lines that are not only
comment; comment lines are those inside a /* ... */ block (scaladoc
included) or starting with //. For a directory the counts are summed
over its files. --lines limits the count to lines A..B (1-based,
inclusive) of a single file; --ref reads the source as committed at a
git ref instead of the work tree. --defs prints each def at a file's
outermost def indentation that is not private or protected, its
signature joined onto one line up to the body's `=`, so two outputs
diff cleanly; for a directory each line is prefixed with its file.
"""
import argparse
import os
import re
import signal
import subprocess

signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`

ap = argparse.ArgumentParser()
ap.add_argument("path")
ap.add_argument("--lines", help="A:B, 1-based and inclusive")
ap.add_argument("--ref", help="git ref to read the source at")
ap.add_argument("--defs", action="store_true")
a = ap.parse_args()


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def files():
    """The Scala files PATH names, and whether PATH is a directory."""
    if a.ref:
        if git("cat-file", "-t", f"{a.ref}:./{a.path}").strip() == "blob":
            return [a.path], False
        names = git("ls-tree", "-r", "--name-only", a.ref, "--",
                    a.path).split()
    elif os.path.isfile(a.path):
        return [a.path], False
    else:
        names = [os.path.join(d, f) for d, _, fs in os.walk(a.path)
                 for f in fs]
    return sorted(n for n in names if n.endswith(".scala")), True


def read(path):
    if a.ref:
        return git("show", f"{a.ref}:./{path}")
    with open(path, encoding="utf-8") as f:
        return f.read()


def defs(lines):
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
        yield re.sub(r"\s+(?=[:)\]])|(?<=[(\[])\s+", "", sig)


def count(lines):
    code = comment = 0
    in_block = False
    for l in lines:
        s = l.strip()
        if in_block or s.startswith("/*") or s.startswith("//"):
            comment += bool(s)
            in_block = (in_block or s.startswith("/*")) and "*/" not in s
        elif s:
            code += 1
    return code, comment


paths, is_dir = files()
if a.lines and is_dir:
    ap.error("--lines needs a single file")
code = comment = 0
for p in paths:
    lines = read(p).split("\n")
    if a.lines:
        lo, hi = (int(x) for x in a.lines.split(":"))
        lines = lines[lo - 1:hi]
    if a.defs:
        for d in defs(lines):
            print(f"{p}: {d}" if is_dir else d)
    else:
        c, m = count(lines)
        code, comment = code + c, comment + m
if not a.defs:
    print(f"code {code} comment {comment}")
