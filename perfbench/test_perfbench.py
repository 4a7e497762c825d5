#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at tiny scale (sf0.001), once
untraced and once traced. Each run must pass all its checks with no failed
operation and emit exactly the metrics BENCHMARK.json names, with their
units. Run from the repository root (takes a few minutes):

    python3 perfbench/test_perfbench.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class SmokeTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def run_bench(self, workload, trace):
        done = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
             "--seconds", "1", "--trace", str(trace), "--smoke"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(done.returncode, 0)
        return json.loads(done.stdout.strip().splitlines()[-1])

    def test_workloads(self):
        for w in self.spec["workloads"]:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    r = self.run_bench(w["name"], trace)
                    self.assertEqual(sorted(r), ["attempted", "correct", "failed", "metrics"])
                    self.assertTrue(r["correct"])
                    self.assertGreater(r["attempted"], 0)
                    self.assertEqual(r["failed"], 0)
                    want = {m["name"]: m["unit"] for m in self.spec[kind]}
                    got = {k: v["unit"] for k, v in r["metrics"].items()}
                    self.assertEqual(got, want)
                    for name, v in r["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), name)


if __name__ == "__main__":
    unittest.main()
