"""Layered benchmark of graft: one command, one workload per call.

    python3 layerbench/run.py --workload lake_io --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark from source (see build.py), then
runs one JVM: a local[N] Spark session (N = CPUs of this machine) and
one client in a closed loop. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The full report (every metric, recorded inputs, per-iteration stall
labels, spans) is written under layerbench/target/runs/. See README.md.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# program's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["lake_io", "curation", "graph_iter"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # Test-only: alter one result per check that supports it, to prove
    # the output checks fire.
    p.add_argument("--corrupt", action="store_true")
    return p.parse_args()


def main():
    a = parse_args()
    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        print("layerbench: build failed: %s" % e, file=sys.stderr)
        return 2
    bench_dir = os.path.relpath(build.BENCH_DIR, build.ROOT)
    tmp = os.path.join(build.TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write its perf-data file
    # to the system temp directory, outside the checkout. A fixed set of
    # JIT compiler threads lets the benchmark subtract their CPU time.
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "layerbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", repr(a.seconds), "--trace", str(a.trace),
            "--target", os.path.join(bench_dir, "target")]
    if a.corrupt:
        cmd.append("--corrupt")
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("layerbench: run exceeded %d s" % RUN_TIMEOUT_S, file=sys.stderr)
        return 3
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        print("layerbench: benchmark exited with %d" % proc.returncode,
              file=sys.stderr)
        return proc.returncode or 4
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stdout.write(out)
        print("layerbench: last line is not a result object", file=sys.stderr)
        return 5
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
