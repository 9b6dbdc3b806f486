"""Run-to-run spread of the end-to-end metrics.

    python3 layerbench/spread.py

Runs the benchmark once per seed (seeds 1..10) on each workload of
BENCHMARK.json for its run_seconds, one run at a time, and prints for
every end-to-end metric its median and the distance between the first
and third quartile as a share of the median
(statistics.quantiles(values, n=4)). A metric is steady enough when
that share stays below a third of its bound; otherwise it is flagged
WIDE. Exits non-zero when a run fails or a check reports a wrong result.
"""
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SEEDS = range(1, 11)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in [w["name"] for w in spec["workloads"]]:
        values = {m: [] for m in bounds}
        for seed in SEEDS:
            out = subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
            r = json.loads(last) if out.returncode == 0 else {}
            if not r.get("correct"):
                print("%s seed %d: exit %d, result %s" % (w, seed, out.returncode, last))
                ok = False
                continue
            for m in bounds:
                values[m].append(r["metrics"][m]["value"])
            print("%s seed %d: %s" % (w, seed, " ".join(
                "%s=%.4g" % (m, r["metrics"][m]["value"]) for m in bounds)), flush=True)
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med
            flag = "ok" if share < bounds[m] / 3 else "WIDE"
            print("%-10s %-15s median %.4g  iqr/median %.3f  bound %.2f  %s"
                  % (w, m, med, share, bounds[m], flag), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
