"""The benchmark's own test, at the benchmark's own sizes.

    python3 -m unittest layerbench/test_layerbench.py

- every metric named in BENCHMARK.json appears, with its unit, on the
  last line of an untraced (end-to-end) or traced (per-layer) run of
  every workload, and the checks pass;
- with --corrupt, every check whose input was altered reports a
  failure (curation: each step of the text chain and kNN);
- in a directory holding only BENCHMARK.json and the benchmark's files
  the command fails without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
# graph_iter is run by hand, not by BENCHMARK.json; it is tested too.
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["graph_iter"]


def run(cwd, *extra):
    cmd = SPEC["command"] + ["--seed", "7", "--seconds", "1"] + list(extra)
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=900)


def result(out):
    return json.loads(out.stdout.strip().splitlines()[-1])


class MetricsAppear(unittest.TestCase):
    def check(self, workload, trace, listed):
        out = run(ROOT, "--workload", workload, "--trace", trace)
        self.assertEqual(out.returncode, 0, out.stdout[-2000:])
        r = result(out)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], out.stdout[-2000:])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC[listed]}
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in r["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        return out

    def test_end_to_end_metrics(self):
        for w in WORKLOADS:
            out = self.check(w, "0", "end_to_end")
            summary = json.loads(out.stdout.strip().splitlines()[-2])
            for m in ("failed_frac", "held_mb", "iter_n", "stall_iters"):
                self.assertIn(m, summary["end_to_end"])
            self.assertEqual(summary["end_to_end"]["failed_frac"]["value"], 0.0)

    def test_per_layer_metrics(self):
        for w in WORKLOADS:
            self.check(w, "1", "per_layer")


class CorruptionIsCaught(unittest.TestCase):
    def test_corrupted_result_fails_the_check(self):
        for w in WORKLOADS:
            out = run(ROOT, "--workload", w, "--trace", "0", "--corrupt")
            self.assertEqual(out.returncode, 0)
            r = result(out)
            self.assertFalse(r["correct"], w)
            summary = json.loads(out.stdout.strip().splitlines()[-2])
            with open(os.path.join(ROOT, summary["report"])) as fh:
                report = json.load(fh)
            tampered = report["tampered"]
            self.assertTrue(tampered, w)
            if w == "curation":
                self.assertEqual(len(tampered), 7, tampered)
            self.assertGreaterEqual(r["failed"], len(tampered), w)
            for what in tampered:
                self.assertTrue(any("check '%s' failed" % what in e
                                    for e in report["errors"]), (w, what))


class BareDirectoryFails(unittest.TestCase):
    def test_no_result_without_the_program(self):
        os.makedirs(os.path.join(BENCH_DIR, "target"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(BENCH_DIR, "target")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("target", "__pycache__"))
            out = run(d, "--workload", SPEC["workloads"][0]["name"], "--trace", "0")
            self.assertNotEqual(out.returncode, 0)
            self.assertNotIn('"correct"', out.stdout)


if __name__ == "__main__":
    unittest.main(argv=[sys.argv[0]] + sys.argv[1:])
