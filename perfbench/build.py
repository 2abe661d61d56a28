#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) together with the harness (`perfbench/harness`) into
`perfbench/.build/classes` with the Scala compiler that ships in the
Spark distribution. No sbt, no network; the Spark jars are the whole
classpath (the same unmanaged jars `build.sbt` uses).

A build is skipped when a stamp over every source file's path and bytes
matches the last build. Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        d = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        sys.exit("perfbench: no engine sources under src/main/scala; "
                 "run from a checkout of the repository")
    return engine + sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if stale; return (classes dir, source stamp, seconds spent)."""
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return CLASSES, want, 0.0
    t0 = time.time()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        sys.exit(f"perfbench: compile failed (exit {res.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES, want, time.time() - t0


if __name__ == "__main__":
    out, digest, took = build()
    print(f"{out} {digest[:12]} built in {took:.1f}s")
