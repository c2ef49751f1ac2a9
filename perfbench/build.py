"""Build file of the benchmark harness.

Compiles the program (`src/main/scala`) and the harness (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory, into
`.bench_build/classes` and `.bench_build/bench-classes`. A build is skipped
when the stamp of the sources and the jar set matches the last one.

    python3 perfbench/build.py          # from the repo root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else pyspark's."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler found (set SPARK_HOME)")


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def _scalac(jars, classpath, out, files):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", classpath] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed for {out}")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def build():
    """Compile what changed; returns the runtime classpath."""
    main = _sources(os.path.join("src", "main", "scala"))
    bench = _sources(os.path.join("perfbench", "src"))
    if not main or not bench:
        raise SystemExit("perfbench: run from the repo root (src/main/scala and perfbench/src are needed)")
    jars = spark_jars()
    alljars = os.path.join(jars, "*")
    classes = os.path.join(BUILD, "classes")
    bench_classes = os.path.join(BUILD, "bench-classes")
    stamp_file = os.path.join(BUILD, "STAMP")
    stamp = _stamp(main + bench, jars)
    old = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if old != stamp:
        os.makedirs(BUILD, exist_ok=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        _scalac(jars, alljars, classes, main)
        _scalac(jars, os.pathsep.join([classes, alljars]), bench_classes, bench)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([bench_classes, classes, alljars])


if __name__ == "__main__":
    print(build())
