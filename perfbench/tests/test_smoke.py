"""Tiny-scale smoke of every workload: each run must exit 0, pass its own
output checks and print every metric BENCHMARK.json names, with that
metric's unit.

    python3 -m unittest discover -s perfbench/tests

Runs at sf0.001 with --seconds 1, untraced and traced, so it takes a few
minutes (the first run also builds the benchmark).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
from run import METRICS, WORKLOADS  # noqa: E402


def run(workload, trace, seed=1):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def check(self, workload):
        units = {m["name"]: m["unit"] for m in
                 self.bench["end_to_end"] + self.bench["per_layer"]}
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            detail, res = run(workload, trace)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"], detail["errors"])
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual(res["failed"], 0)
            want = METRICS[kind]
            self.assertEqual(set(res["metrics"]), set(want))
            for name, m in res["metrics"].items():
                self.assertEqual(m["unit"], units[name], name)
                self.assertIsInstance(m["value"], float, name)
        # the same seed again: the count self-check must match
        detail, _ = run(workload, 0)
        self.assertIs(detail["self_check"]["match_earlier_run"], True)
        self.assertIsNotNone(detail["tracing_overhead"])

    def test_batch_mix(self):
        self.check("batch_mix")

    def test_ingest_churn(self):
        self.check("ingest_churn")

    def test_benchmark_json_lists_every_metric(self):
        for kind in ("end_to_end", "per_layer"):
            named = {m["name"] for m in self.bench[kind]}
            self.assertEqual(named, set(METRICS[kind]), kind)
        self.assertEqual({w["name"] for w in self.bench["workloads"]}, set(WORKLOADS))


if __name__ == "__main__":
    unittest.main()
