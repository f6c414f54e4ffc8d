#!/usr/bin/env python3
"""Build definition of the flow-path benchmark.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`flowbench/src`) into `.bench_build/flowbench/classes`, with the
Scala compiler that ships in the Spark distribution. No dependency
resolution and no network: the classpath is the Spark jars directory.

    python3 flowbench/build.py          # from the repository root

A stamp over every source file's content makes a rebuild a no-op when
nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("flowbench", "src")
OUT = os.path.join(".bench_build", "flowbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")

SCALAC_FLAGS = ["-nowarn", "-release", "17"]


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME's, else that of
    the first `spark-submit` on PATH that belongs to a full distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("flowbench: no Spark distribution with Scala compiler "
                     "jars found (set SPARK_HOME)")


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise SystemExit(f"flowbench: missing source directory {base} "
                             "(run from the repository root)")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files
                      if f.endswith((".scala", ".java"))]
    return sorted(found)


def stamp_of(files):
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


TMP = os.path.join(OUT, "tmp")


def tmp_opts():
    """JVM options that keep temporary files inside the checkout; callers
    remove TMP when the JVM has ended."""
    os.makedirs(TMP, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.abspath(TMP)}"]


def classpath():
    """Runtime classpath: compiled classes, engine resources (the
    `pktdump` DataSourceRegister entry), Spark jars."""
    return os.pathsep.join([CLASSES, ENGINE_RES,
                            os.path.join(spark_jars(), "*")])


def build():
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", *tmp_opts(), "-cp", cp,
           "scala.tools.nsc.Main",
           *SCALAC_FLAGS, "-d", CLASSES, "-cp", cp, *files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(TMP, ignore_errors=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout)
        raise SystemExit(f"flowbench: compile failed ({res.returncode})")
    sys.stderr.write(res.stdout)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
