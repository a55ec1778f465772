"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in Spark's jars.

A stamp of the sources' digest skips the compile when nothing changed.
Run it alone with `python3 perfbench/build.py`; run.py calls it first.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("build: Spark's jars not found; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(d):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, RESOURCES, spark_jars()])


def build():
    """Compiles if the sources changed; returns the runtime classpath."""
    if not os.path.isdir(SOURCE_DIRS[0]) or not os.path.isdir(RESOURCES):
        sys.exit("build: the program's sources (src/main) are missing")
    files = sources()
    stamp = digest(files)
    stamp_file = os.path.join(CLASSES, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join('"%s"' % f for f in files))
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", jars, "-nowarn", "@" + argfile]
    print("build: compiling %d sources" % len(files), file=sys.stderr)
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        sys.exit("build: compile failed")
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath()


if __name__ == "__main__":
    build()
