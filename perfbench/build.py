#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program
(src/main/scala) and the benchmark's own sources (perfbench/src) with the
Scala compiler that ships in the Spark distribution, into
.bench_build/classes. A build is reused while no source file changed.

    python3 perfbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.sha256")


def spark_jars():
    """The Spark jars the program compiles and runs against: those of
    $SPARK_HOME, else the directory build.sbt names as `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
    return m.group(1)


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
        found += glob.glob(os.path.join(ROOT, base, "**", "*.java"), recursive=True)
    return sorted(found)


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs + sorted(glob.glob(os.path.join(ROOT, "src/main/resources/**"), recursive=True)):
        if not os.path.isfile(s):
            continue
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-cp", jars, "-d", CLASSES] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    # the DSv2 sources register through META-INF/services
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
