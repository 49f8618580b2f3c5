"""Build step: compile the program's Scala sources together with the
benchmark harness into one class directory, offline, with the Scala
compiler that ships among the Spark jars.

The program is compiled from the checkout's own `src/main/scala`, so
the benchmark always measures the tree it sits in. The class directory
is keyed by a hash of every source file and reused while none changes.

Run on its own: `python3 perfbench/build.py` prints the classpath.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark distribution's jar directory: `$SPARK_HOME/jars`, else
    the `unmanagedBase` the program's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or keep build.sbt's unmanagedBase")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    return exe if home and os.path.exists(exe) else "java"


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("no program sources under src/main/scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return files


def ensure(root, log=sys.stderr):
    """Compile if needed; return the classpath to run the harness with."""
    jars = spark_jars(root)
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    cp = out + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(out, ".complete")):
        return cp
    staging = out + ".tmp%d" % os.getpid()
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(staging, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    print("perfbench: compiling %d sources" % len(files), file=log, flush=True)
    r = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", staging,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(staging, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    for old in glob.glob(os.path.join(base, "classes-*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return cp


if __name__ == "__main__":
    print(ensure(os.path.dirname(HERE)))
