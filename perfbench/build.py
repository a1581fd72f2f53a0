#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark harness
(`perfbench/src`) with the Scala compiler shipped in the Spark
distribution, into `.bench_build/classes` under the repository root. A
build is skipped when a stamp of every source file's path and content
matches the last one.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars(root="."):
    """The Spark jar directory: `SPARK_JARS` if set, else the
    `unmanagedBase` the repository's build.sbt declares."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: build.sbt declares no unmanagedBase; set SPARK_JARS")
    return m.group(1)


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.path.join(spark_jars(), "*")


def build(root="."):
    """Compile if needed; return the classes directory."""
    files = sources(root)
    if not any(f.endswith(".scala") and "/src/main/scala/" in f for f in files):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    out = os.path.join(root, BUILD, "classes")
    stamp_file = os.path.join(root, BUILD, "classes.stamp")
    key = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log = os.path.join(root, BUILD, "build.log")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath(), "-d", tmp] + files
    with open(log, "w") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: build failed (see {log})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return out


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    print(build())
