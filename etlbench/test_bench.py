"""Small-scale tests of the benchmark itself.

Run from the repository root:

    python3 -m unittest etlbench/test_bench.py

Each workload runs on the tiny corpus (2000 issues), untraced and traced.
The tests check that the result object has the declared metric names and
units, that every op passed its output checks, and that the digests the
run printed equal the ones recorded for the test seed. A last test runs the
command in a directory that holds only the benchmark and expects it to fail
without printing a result.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SEED = 7


def run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "etlbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


class TinyWorkloads(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        with open(os.path.join(BENCH, "expected.json")) as f:
            cls.recorded = json.load(f)["tiny"]

    def check(self, workload, trace):
        r = run(ROOT, workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], r.stdout)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        declared = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})
        for name, m in res["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
        digests = [l for l in lines if l.startswith("digests: ")][0][len("digests: "):].split("|")
        want = self.recorded[workload][str(SEED)]
        self.assertEqual(digests[:len(want)], want[:len(digests)])
        return res

    def test_backfill(self):
        res = self.check("etl_backfill", 0)
        self.assertGreater(res["metrics"]["sink_bytes_per_issue"]["value"], 0)

    def test_backfill_traced(self):
        res = self.check("etl_backfill", 1)
        self.assertGreater(res["metrics"]["issues_per_s"]["value"], 0)
        self.assertEqual(res["metrics"]["operators.dedup_keep_ratio"]["value"], 1.0)
        self.assertGreater(res["metrics"]["sinks.bytes"]["value"], 0)

    def test_incremental(self):
        self.check("etl_incremental", 0)

    def test_incremental_traced(self):
        res = self.check("etl_incremental", 1)
        # changelog export is off on ticks: the changelog sink writes nothing
        self.assertEqual(res["metrics"]["transform.changelog_rows_per_issue"]["value"], 0.0)

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "etlbench"),
                            ignore=shutil.ignore_patterns("target", "work", "out", "__pycache__"))
            r = subprocess.run([sys.executable, "etlbench/run.py", "--workload", "etl_backfill",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
