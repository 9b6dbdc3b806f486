"""Build file of the layered benchmark.

Compiles the program (src/main/scala plus src/main/resources) together
with the benchmark's own sources (layerbench/src) into
layerbench/target/classes, using the Scala compiler that ships in the
Spark distribution's jars directory. Nothing is downloaded and nothing
is written outside the checkout. A content stamp over every source
file makes a second call a no-op until a source changes.

Usage: python3 layerbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
TARGET = os.path.join(BENCH_DIR, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "classes.stamp")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars directory (Spark, Scala and scalac): SPARK_JARS_DIR,
    else $SPARK_HOME/jars, else the program's own build.sbt
    (`unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    candidates = [os.environ.get("SPARK_JARS_DIR"),
                  os.path.join(home, "jars") if home else None]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    for d in candidates:
        if d and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jars directory with scala-compiler found; "
                     "set SPARK_JARS_DIR")


def _files(top, suffix=None):
    out = []
    for dirpath, _, names in os.walk(top):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(dirpath, n))
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compile when any source changed; return the run classpath."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources not found at src/main/scala; "
                         "run from the root of a full checkout")
    jars = spark_jars()
    program = _files(PROGRAM_SRC, ".scala")
    bench = _files(BENCH_SRC, ".scala")
    resources = _files(PROGRAM_RES) if os.path.isdir(PROGRAM_RES) else []
    if not program or not bench:
        raise BuildError("no Scala sources to compile")
    stamp = _stamp(program + bench + resources)
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return classpath
    os.makedirs(TARGET, exist_ok=True)
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(TARGET, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(program + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + TARGET, "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
           "-d", staging, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print("layerbench: compiling %d program + %d benchmark sources"
          % (len(program), len(bench)), file=sys.stderr, flush=True)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac timed out")
    if r.returncode != 0:
        raise BuildError("scalac failed with exit code %d" % r.returncode)
    for f in resources:
        dst = os.path.join(staging, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return classpath


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print("layerbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
