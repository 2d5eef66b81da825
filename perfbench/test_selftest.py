"""Self-test: every workload at sf0.001, untraced and traced.

  python3 -m pytest perfbench/test_selftest.py     (or run this file)

Run from the root of the checkout. Each run must exit 0, pass the
correctness gate, and emit every metric BENCHMARK.json declares for its
mode, with the declared unit and a numeric value.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class SelfTest(unittest.TestCase):
    def check(self, workload, trace):
        rc, res, err = run(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"], err[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in declared))
        for m in declared:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])

    def test_workloads(self):
        for w in (x["name"] for x in SPEC["workloads"]):
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)


if __name__ == "__main__":
    unittest.main()
