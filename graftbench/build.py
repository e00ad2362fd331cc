#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources and the
benchmark program with the Scala compiler that ships among the Spark jars.

    python3 graftbench/build.py          # prints the run classpath

The Spark jar directory is the one the repository's build.sbt names as
`unmanagedBase` (override with GRAFTBENCH_JARS or SPARK_HOME). Outputs go
to graftbench/.build/ and are reused while the sources are unchanged.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def jar_dir():
    env = os.environ.get("GRAFTBENCH_JARS")
    if env:
        return env
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: set GRAFTBENCH_JARS or SPARK_HOME")


def sources(d):
    if not os.path.isdir(d):
        raise BuildError("missing source directory: %s" % os.path.relpath(d, ROOT))
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not out:
        raise BuildError("no Scala sources under %s" % os.path.relpath(d, ROOT))
    return sorted(out)


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(name, files, classpath, extra_stamp):
    dest = os.path.join(OUT, name)
    key = stamp(files, extra_stamp + classpath)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compiling %s failed:\n%s" % (name, p.stdout[-6000:]))
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return dest


def build():
    """Compiles what changed and returns the run classpath."""
    jars = os.path.join(jar_dir(), "*")
    program = compile_into("program", sources(os.path.join(ROOT, "src", "main", "scala")),
                           jars, "program")
    # the benchmark is recompiled whenever the engine is
    bench = compile_into("bench", sources(os.path.join(HERE, "src")),
                         jars + os.pathsep + program, open(program + ".stamp").read())
    return os.pathsep.join([bench, program, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
