#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala and its
resources) together with the harness (perfbench/src) into
.bench_build/perfbench/classes, using the Scala compiler that ships with the
Spark distribution, so no build tool or dependency resolution is needed.

    python3 perfbench/build.py        # from the checkout root

Rebuilds only when a source file changed (content hash in a stamp file).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

PROGRAM_SRC = os.path.join("src", "main", "scala")
PROGRAM_RES = os.path.join("src", "main", "resources")
HARNESS_SRC = os.path.join(os.path.dirname(os.path.relpath(__file__)), "src")
OUT = os.path.join(".bench_build", "perfbench")
SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# program's build.sbt javaOptions).
ADD_OPENS = [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    d = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(d):
        sys.exit(f"perfbench: no Spark jars at {d}")
    return d


def _files(root, pattern):
    return sorted(glob.glob(os.path.join(root, "**", pattern), recursive=True))


def build():
    """Compile if needed; return the classes directory."""
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit(f"perfbench: no program sources at {PROGRAM_SRC}; run from the checkout root")
    sources = _files(PROGRAM_SRC, "*.scala") + _files(HARNESS_SRC, "*.scala")
    resources = [f for f in _files(PROGRAM_RES, "*") if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(OUT, ignore_errors=True)
    staging = os.path.join(OUT, "classes.tmp")
    os.makedirs(staging)
    jars = spark_jars()
    compiler_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, f"{j}-2.13.*.jar"))[0] for j in SCALA_JARS)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode("utf-8", "replace")[-6000:])
        sys.exit(f"perfbench: compile failed with {p.returncode}")
    for f in resources:
        dst = os.path.join(staging, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(f, dst)
    os.rename(staging, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
