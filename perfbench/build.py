"""Builds the program and the benchmark into one class directory.

The program's Scala sources (src/main/scala) and the benchmark's
(perfbench/src) are compiled together with the Scala compiler that ships
in the Spark distribution, against the Spark jars. The output lives under
.bench_build/perfbench/build-<key>, where <key> hashes every source file
and this script, so a source tree is built once and reused by every run.

    python3 perfbench/build.py          # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars beside
    the first spark-submit on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if os.path.isfile(os.path.join(d, "spark-submit")):
            homes.append(os.path.dirname(os.path.realpath(d)))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(SOURCE_DIRS[0]):
        raise SystemExit(f"perfbench: program sources not found at {SOURCE_DIRS[0]}")
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(d):
            out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def build_key(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_built():
    """Returns the class directory, compiling it first if needed."""
    files = sources()
    out = os.path.join(ROOT, ".bench_build", "perfbench", "build-" + build_key(files))
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit("perfbench: build failed")
    open(os.path.join(out, "OK"), "w").close()
    return classes


if __name__ == "__main__":
    print(ensure_built())
