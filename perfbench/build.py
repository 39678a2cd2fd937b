#!/usr/bin/env python3
"""Build the program and the benchmark harness with the Scala compiler that
ships in Spark's jars ($SPARK_HOME/jars), into
`.bench_build/classes-<hash of the sources>`.

Usage (from the root of a checkout): python3 perfbench/build.py

A build whose sources are unchanged is reused, so only the first run in a
checkout pays for compilation.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: SPARK_HOME must name the Spark install")
    return os.path.join(home, "jars")


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root):
    """Return the classes directory for the current sources, compiling if needed."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala")) for s in srcs):
        raise SystemExit("build: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, cwd=root)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: scalac failed")
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


def java_cmd(classes, main, args, heap, tmpdir):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xms" + heap, "-Xmx" + heap, "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmpdir]
            + opens
            + ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), main]
            + args)


if __name__ == "__main__":
    print(build(os.getcwd()))
    sys.exit(0)
