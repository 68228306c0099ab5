#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (`src/main/scala` at the repository root)
together with the benchmark's own sources (`perfbench/src`) into
`.bench_build/graftbench/classes`, with the Scala compiler and Spark jars
that ship in the Spark distribution: `$SPARK_JARS`, else `$SPARK_HOME/jars`,
else the `jars` directory beside the `spark-submit` on the PATH. A stamp of
every source's hash skips the compile when nothing changed.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_jars():
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    submit = shutil.which("spark-submit")
    return os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars") if submit else ""


JARS = _spark_jars()
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft):
        raise BuildError(f"graft sources not found at {graft}")
    found = []
    for d in (graft, os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return the runtime classpath."""
    compiler = [os.path.join(JARS, f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.isfile(j):
            raise BuildError(f"missing {j}")
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    cp = f"{classes}:{JARS}/*"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", f"{JARS}/*", f"@{args_file}"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=850)
    if r.returncode != 0 or not glob.glob(os.path.join(classes, "graftbench", "Main*.class")):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise BuildError("compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build: {e}")
