"""Build step of the benchmark: compile graft's main sources and the benchmark's JVM
half with the Scala compiler that ships among the Spark jars.

The classes land in `.bench_build/classes-<hash>`, where the hash covers every source
file, so an unchanged tree is not compiled twice.  Run it alone with
`python3 perfbench/build.py`; `run.py` calls it before every run.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def _spark_home():
    """$SPARK_HOME, else the Spark install whose `spark-submit` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME (its jars/ hold Spark and the Scala compiler)")
    return home


SPARK_JARS = os.path.join(_spark_home(), "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no graft sources under src/main/scala; run from a checkout")
    return main + sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))


def classpath(classes):
    return classes + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    """Compile if needed; returns the classes directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = "%s.tmp-%d" % (classes, os.getpid())
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(SPARK_JARS, "*")] + files
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-8000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    try:
        os.rename(tmp, classes)
    except OSError:  # a concurrent build of the same tree finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
