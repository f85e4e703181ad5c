"""Builds the program and the benchmark harness from source.

Compiles the repository's `src/main/scala` together with
`perfbench/harness/*.scala` in one scalac run, with the Scala compiler and
Spark jars of the Spark distribution (`$SPARK_HOME/jars`, else the
`unmanagedBase` directory the repository's build.sbt compiles against), into
`.bench_build/classes` under the checkout. The build is skipped when a source
hash stamp matches. Run it on its own with `python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
OUT = os.path.join(CHECKOUT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(CHECKOUT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
        d = m.group(1)
    if not os.path.isdir(d):
        raise BuildError(f"no Spark jars at {d}")
    return d


def sources():
    roots = [os.path.join(CHECKOUT, "src", "main", "scala"), os.path.join(HERE, "harness")]
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"missing source directory {os.path.relpath(r, CHECKOUT)}")
    files = []
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    if not files:
        raise BuildError("no Scala sources")
    return sorted(files)


def build():
    """Returns the classes directory, compiling first when sources changed."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, CHECKOUT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:ParallelGCThreads=2", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
