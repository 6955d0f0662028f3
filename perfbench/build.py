#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark's JVM side
(`perfbench/jvm`) with the Scala compiler that ships in the Spark
distribution's `jars/` directory, into `.bench_build/classes` of the
checkout. A content hash of the sources skips the compile when nothing
changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, else the first `<dir>/../jars` holding the Scala
    compiler for a `<dir>` on PATH (a Spark distribution's `bin/`)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(":")]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a scala-compiler jar; "
                     "set SPARK_HOME")


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {ROOT}/src/main/scala")
    return program + sorted((HERE / "jvm").glob("*.scala"))


def build():
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / "classes.sha256"
    if not (stamp.exists() and stamp.read_text() == digest.hexdigest()):
        shutil.rmtree(CLASSES, ignore_errors=True)
        CLASSES.mkdir(parents=True)
        args = BUILD / "scalac.args"
        args.write_text("\n".join(str(f) for f in srcs))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(CLASSES), f"@{args}"]
        done = subprocess.run(cmd, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True,
                              timeout=800, cwd=BUILD)
        if done.returncode != 0:
            raise BuildError("scalac failed:\n" + done.stdout[-4000:])
        stamp.write_text(digest.hexdigest())
    return f"{CLASSES}:{jars}/*"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
