"""Prints the aggregate oracle pins of SparkEntry.oracleSql anew from a run
on the given tables, as sorted SQL VALUES tuples.

    python3 perfbench/pins.py DIR [query,query,...]

DIR is the sf0.01 table directory. Its name must contain "sf0.01": x01,
x03 and x14 size their corpus by it. The row-level frozen copies come
from `sbt 'Test/runMain FreezeRowsDump'` instead.
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402
from run import OPENS  # noqa: E402


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    cp = build.build()
    work = os.path.join(build.BUILD, "work", "pins-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Pins",
        "--tables", os.path.abspath(sys.argv[1]), "--work", work]
    if len(sys.argv) == 3:
        cmd += ["--only", sys.argv[2]]
    try:
        rc = subprocess.run(cmd, cwd=build.ROOT).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
