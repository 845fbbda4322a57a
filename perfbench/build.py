"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the harness (`perfbench/scala`) with the Scala compiler that ships in the
Spark distribution, into `.bench_build/classes/{main,bench}`.

Each part is rebuilt only when a hash of its sources changes. Nothing is
resolved or downloaded: the compiler, the Scala library and Spark all come
from the `jars` directory of the Spark distribution named by `$SPARK_HOME`,
or else of the first one whose `bin` directory is on the PATH.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"


class BuildError(Exception):
    pass


def _spark_jars():
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(p) for p in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-2.13.*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark 4 distribution found: set SPARK_HOME")


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac_cp(spark_jars):
    def jar(prefix):
        found = glob.glob(os.path.join(spark_jars, prefix + "-2.13.*.jar"))
        if not found:
            raise BuildError(f"no {prefix} jar in {spark_jars}")
        return found[0]
    return os.pathsep.join(jar(p) for p in
                           ("scala-compiler", "scala-library", "scala-reflect"))


def _compile(name, srcs, classpath, spark_jars):
    out = os.path.join(BUILD, "classes", name)
    stamp = out + ".stamp"
    digest = _digest(srcs)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", _scalac_cp(spark_jars),
            "scala.tools.nsc.Main", "-nowarn", "-d", out,
            "-classpath", classpath] + srcs
    r = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError(f"compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return out


def build():
    """Compile what changed; return the runtime classpath."""
    main_srcs = _sources(os.path.join("src", "main", "scala"))
    bench_srcs = _sources(os.path.join("perfbench", "scala"))
    if not main_srcs or not bench_srcs:
        raise BuildError("program or harness sources missing")
    spark_jars = _spark_jars()
    spark_cp = os.path.join(spark_jars, "*")
    main = _compile("main", main_srcs, spark_cp, spark_jars)
    bench = _compile("bench", bench_srcs, os.pathsep.join([main, spark_cp]), spark_jars)
    resources = os.path.join("src", "main", "resources")
    return os.pathsep.join([bench, main, resources, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
