"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships in Spark's jar directory, into .bench_build/classes.
The program links against the same jars (build.sbt's unmanagedBase).

    python3 perfbench/build.py          # from the repository root

A stamp of the sources' content makes a second call a no-op."""

import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def _sources():
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def _stamp(files):
    h = hashlib.sha256()
    for f in files + sorted(_resource_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _resource_files():
    res = os.path.join(ROOT, RESOURCES)
    for base, _, files in os.walk(res):
        for f in files:
            yield os.path.join(base, f)


def build():
    """Compile if the sources changed; raise on failure."""
    files = _sources()
    if not any(f.startswith(os.path.join(ROOT, "src", "main", "scala")) for f in files):
        raise RuntimeError("no program sources under src/main/scala: run from the repository root")
    stamp = _stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + OUT,
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(spark_jars(), "*"), "-d", CLASSES,
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("compilation failed")
    res = os.path.join(ROOT, RESOURCES)
    if os.path.isdir(res):
        shutil.copytree(res, CLASSES, dirs_exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()
