"""Compiles graft (src/main/scala) and the benchmark harness (perfbench/src)
with the Scala compiler that ships in Spark's jars, into .bench_build/.

A stamp of every source file's path and content skips the compile when
nothing changed. Run directly to build: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PARTS = [("graft", os.path.join(ROOT, "src", "main", "scala")),
         ("perfbench", os.path.join(HERE, "src"))]


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else the jars of the
    first Spark install on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars):
            return jars
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources(src_dir):
    out = []
    for d, _, files in os.walk(src_dir):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles whatever changed; returns the runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    classpath = []
    for name, src in PARTS:
        files = sources(src)
        if not files:
            raise SystemExit(f"perfbench: no Scala sources under {src}")
        out = os.path.join(BUILD, name)
        key = stamp(files) + "|" + "|".join(classpath)
        stamp_file = out + ".stamp"
        if not (os.path.isdir(out) and os.path.exists(stamp_file)
                and open(stamp_file).read() == key):
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            cp = os.pathsep.join(classpath + [jars])
            subprocess.run(
                ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", jars,
                 "scala.tools.nsc.Main",
                 "-nowarn", "-classpath", cp, "-d", tmp] + files,
                check=True, stdout=sys.stderr)
            shutil.rmtree(out, ignore_errors=True)
            os.rename(tmp, out)
            with open(stamp_file, "w") as fh:
                fh.write(key)
        classpath.append(out)
    return os.pathsep.join(classpath + [jars])


if __name__ == "__main__":
    print(build())
