"""Compile the engine and the benchmark harness with the Scala compiler that
ships in the Spark distribution ($SPARK_HOME/jars, or the jars directory
build.sbt uses); no sbt, no network.

    python3 perfbench/build.py        # prints the classes directory

The output lands in .bench_build/<source hash>/classes under the current
directory (the root of a checkout), so an unchanged tree is built once.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
PROGRAM_SOURCES = "src/main/scala"
HARNESS_SOURCES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")


def spark_jars(root="."):
    """$SPARK_HOME/jars, else the jars directory build.sbt names as unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("cannot find the Spark jars: set SPARK_HOME")
    return m.group(1)


def scala_jars():
    jars = spark_jars()
    names = ("scala-compiler", "scala-library", "scala-reflect")
    found = [sorted(glob.glob(os.path.join(jars, f"{n}-2.13.*.jar"))) for n in names]
    if not all(found):
        raise RuntimeError(f"no Scala 2.13 compiler in {jars}")
    return [f[-1] for f in found]


def sources(root="."):
    program = sorted(glob.glob(os.path.join(root, PROGRAM_SOURCES, "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HARNESS_SOURCES, "*.scala")))
    return program, harness


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(os.path.basename(j) for j in scala_jars()).encode())
    return h.hexdigest()[:16]


def build(root="."):
    """Return (classes dir, source hash), compiling if needed."""
    program, harness = sources(root)
    if not program:
        raise RuntimeError(f"no program sources under {os.path.join(root, PROGRAM_SOURCES)}")
    key = source_hash(program + harness)
    out = os.path.join(root, BUILD_DIR, key)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, key
    # compile into a directory of this process's own and rename it into
    # place, so two runs that start on a fresh tree cannot clobber each other
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scala_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", os.path.join(tmp, "classes"),
           "-classpath", os.path.join(spark_jars(), "*")] + program + harness
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, "ok"), "w").close()
    if os.path.exists(os.path.join(out, "ok")):  # another run finished first
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        shutil.rmtree(out, ignore_errors=True)  # left by a build that broke off
        os.rename(tmp, out)
    return classes, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
