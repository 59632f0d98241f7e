"""Smoke test of the benchmark itself, run from the repository root:

    python3 -m unittest graftbench/test_smoke.py

Runs every workload once untraced and once traced on the benchmark's own
generated input, and checks that each run prints every metric
BENCHMARK.json names, with its unit, that every output check passes, and
that the trace file parses. About four minutes on four cores, plus the
first build (about three minutes).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and len(lines) >= 2, p.stderr[-3000:]
    return json.loads(lines[-2]), json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def check(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_workload(self):
        for w in self.bench["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                _, result = run(w["name"], 0)
                self.check(result, self.bench["end_to_end"])
            with self.subTest(workload=w["name"], trace=1):
                side, result = run(w["name"], 1)
                self.check(result, self.bench["per_layer"])
                with open(os.path.join(ROOT, side["trace_file"])) as f:
                    spans = json.load(f)
                self.assertEqual(spans["name"], "run")
                self.assertTrue(spans["ops"])
                self.assertTrue(all(o["name"].startswith("op:") and o["layer"] for o in spans["ops"]))


if __name__ == "__main__":
    unittest.main()
