#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM harness (perfbench/src) with the Scala compiler that
ships in Spark's jar directory, into perfbench/.work/build/<hash>.

Usage: python3 perfbench/build.py   (prints the classes directory)

The output is keyed on a hash of every source file, so an unchanged tree
is never recompiled. Spark's jars come from $SPARK_HOME/jars, else from
the directory build.sbt names as its unmanagedBase.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not program:
        raise BuildError(f"no program sources under {ROOT}/src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                                      recursive=True))


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def jvm_flags():
    """Flags every JVM the benchmark starts gets: scratch files stay in the
    benchmark's work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars}")
    tmp = os.path.join(WORK, "build.partial")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", "-Xss8m", "-Xmx2g"] + jvm_flags() +
           ["-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
            "-usejavacp", "-nowarn", "-d", tmp] + srcs)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    # a fresh tree replaces older builds: keep only the newest one
    shutil.rmtree(os.path.join(WORK, "build"), ignore_errors=True)
    os.makedirs(os.path.dirname(out))
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
