#!/usr/bin/env python3
"""Build file of the flow benchmark.

Compiles the program (`src/main/scala`) and the benchmark's own runner
(`perfbench/scala`) with the Scala compiler that ships in Spark's jars,
into `.bench_build/` at the root of the checkout. Each half is rebuilt
only when a hash over its sources changes.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars_dir():
    """$SPARK_HOME/jars, else the Spark install whose spark-submit is on
    PATH, else the jars of the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        raise BuildError("no Spark found: set SPARK_HOME")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def spark_classpath():
    jars_dir = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {jars_dir}")
    return jars


def sources(rel):
    base = os.path.join(ROOT, rel)
    files = sorted(glob.glob(os.path.join(base, "**", "*.scala"),
                             recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {rel}")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_into(name, files, classpath, log, depends=""):
    """Compile `files` into .bench_build/<name> unless already current.
    Returns (output dir, build key); `depends` is the key of what the
    classpath holds that was built here too."""
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    key = digest(files) + ":" + depends + ":" + ":".join(classpath)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out, key
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", ":".join(spark_classpath()),
           "scala.tools.nsc.Main", "-nowarn",
           "-Ybackend-parallelism", str(min(os.cpu_count() or 1, 8)),
           "-d", out,
           "-cp", ":".join(classpath)] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        log.write(proc.stdout)
        raise BuildError(f"compiling {name} failed")
    with open(stamp, "w") as fh:
        fh.write(key)
    return out, key


def build(log=sys.stderr):
    """Returns the runtime classpath (list of entries)."""
    jars = spark_classpath()
    program, key = compile_into("program", sources("src/main/scala"), jars,
                                log)
    bench, _ = compile_into("perfbench", sources("perfbench/scala"),
                            [program] + jars, log, depends=key)
    return [bench, program] + jars


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
