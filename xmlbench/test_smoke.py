"""Smoke test of the benchmark at tiny size (about three minutes):

    python3 -m unittest discover -s xmlbench -p 'test_*.py'

Checks that every metric BENCHMARK.json names prints with its unit on every
workload, traced and untraced, with zero failed ops; that one corrupted
value in a fixture is counted as a failed op; and that counter_diff.py flags
a moved counter and nothing else.
"""
import json
import math
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import counter_diff  # noqa: E402


def run_bench(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_every_metric_prints_with_its_unit_and_no_op_fails(self):
        for w in self.spec["workloads"]:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    r = run_bench(w["name"], trace)
                    self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(r["correct"])
                    self.assertGreaterEqual(r["attempted"], 1)
                    self.assertEqual(r["failed"], 0)
                    want = {m["name"]: m["unit"] for m in self.spec[section]}
                    self.assertEqual(set(r["metrics"]), set(want))
                    for name, m in r["metrics"].items():
                        self.assertEqual(m["unit"], want[name], name)
                        self.assertTrue(math.isfinite(m["value"]), name)
                    if trace == 0:
                        for name in want:
                            self.assertGreater(r["metrics"][name]["value"], 0, name)

    def test_corrupted_value_counts_as_failed_op(self):
        for w in self.spec["workloads"]:
            with self.subTest(workload=w["name"]):
                r = run_bench(w["name"], 0, corrupt=True)
                self.assertFalse(r["correct"])
                self.assertGreaterEqual(r["failed"], 1)
                self.assertLessEqual(r["failed"], r["attempted"])

    def test_counter_diff_flags_only_moved_counters(self):
        def record(jobs, rows):
            return {"workload": "curate", "size": "smoke", "seed": 7, "trace": 1,
                    "threads": 4, "report": {
                        "spark.jobs": {"value": jobs, "unit": "count"},
                        "curate.rows.sample": {"value": rows, "unit": "count"},
                        "curate.near_s": {"value": 1.0 + jobs, "unit": "s"}}}
        self.assertEqual(counter_diff.diff(record(11, 168), record(11, 168)), ([], []))
        problems, moved = counter_diff.diff(record(11, 168), record(12, 168))
        self.assertEqual(problems, [])
        self.assertEqual(moved, [("spark.jobs", 11, 12)])
        other_seed = dict(record(11, 168), seed=8)
        self.assertTrue(counter_diff.diff(record(11, 168), other_seed)[0])


if __name__ == "__main__":
    unittest.main()
