#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `perfbench/.build/classes` with the Scala compiler that ships in
the Spark distribution, and writes the tracing agent's jar. A stamp over
every source file skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
AGENT = os.path.join(OUT, "agent.jar")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit(f"build: program sources not found at {prog}")
    files = []
    for base in (prog, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(base, "**", "*.java"), recursive=True)
    return sorted(files)


def compiler_cp():
    names = ["scala-compiler", "scala-library", "scala-reflect"]
    jars = []
    for n in names:
        found = sorted(glob.glob(os.path.join(SPARK_JARS, f"{n}-2.13*.jar")))
        if not found:
            raise SystemExit(f"build: {n} jar not found in {SPARK_JARS}")
        jars.append(found[-1])
    return ":".join(jars)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(compiler_cp().encode())
    return h.hexdigest()


def build():
    """Compile unless the stamp matches; returns the classes directory.
    Concurrent runs in one checkout wait on a lock instead of racing."""
    os.makedirs(HERE, exist_ok=True)
    with open(os.path.join(HERE, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return CLASSES
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler_cp(),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with zipfile.ZipFile(AGENT, "w") as z:
        z.writestr("META-INF/MANIFEST.MF",
                   "Manifest-Version: 1.0\nPremain-Class: perfbench.Agent\n")
    with open(stamp_file, "w") as f:
        f.write(want)
    return CLASSES


if __name__ == "__main__":
    print(build())
