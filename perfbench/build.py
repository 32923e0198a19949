"""Build file of the benchmark: compiles the program and the harness.

The program's sources (src/main/scala) and the harness (perfbench/harness)
are compiled in one scalac call into .bench_build/classes, with the Scala
2.13 compiler and the Spark jars that build.sbt compiles against (its
`unmanagedBase`). A stamp of the source hashes skips an unchanged build.

Usage: python3 perfbench/build.py
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
# build.sbt's jdk17AddOpens: Spark 4 on JDK 17 outside spark-submit.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def spark_jars():
    """The Spark distribution's jar directory: build.sbt's unmanagedBase."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "harness")]
    missing = [d for d in dirs if not os.path.isdir(d)]
    if missing:
        raise SystemExit(f"perfbench: no sources at {', '.join(missing)}")
    return sorted(f for d in dirs for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def build():
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    os.makedirs(BUILD, exist_ok=True)
    staging = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", staging, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {proc.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, stamp


def java(classes, tmpdir, xmx, main, args):
    """Command line of a program JVM with its own java.io.tmpdir and a
    fixed-size heap (no resizing while it measures)."""
    return (["java"] + [a for p in OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
            [f"-Xms{xmx}", f"-Xmx{xmx}", f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", f"{classes}{os.pathsep}{spark_jars()}/*",
             main] + args)


if __name__ == "__main__":
    print(build()[0])
