"""Builds the engine and the benchmark from source with the Scala compiler
that ships in Spark's jar directory; no sbt, no network.

    python3 counterbench/build.py      # compile into counterbench/.build

The build is skipped when a stamp over every source file still matches.
"""
import hashlib
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")
BENCH_RES = os.path.join(BENCH, "resources")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the engine build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("cannot find Spark's jars: set SPARK_HOME")


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise BuildError("missing source directory %s" % os.path.relpath(base, ROOT))
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def classpath():
    return os.pathsep.join([CLASSES, ENGINE_RES, BENCH_RES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(CLASSES, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    print("counterbench: compiling %d sources" % len(srcs), file=log)
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise BuildError("scalac failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print("counterbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
