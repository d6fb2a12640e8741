"""End-to-end smoke test: builds the program, then runs every workload
once, traced, on sf0.001-sized generated inputs (a few minutes on 4
cores), and checks that each passes its output checks and reports every
per-layer metric.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class Smoke(unittest.TestCase):
    def test_every_workload_once_traced(self):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--smoke", "--trace", "1"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(proc.returncode, 0, proc.stdout)
        results = [json.loads(line) for line in proc.stdout.splitlines()
                   if line.startswith("{")]
        self.assertEqual(len(results), 2)
        names = {n for n, _, _ in stats.per_layer_names()}
        for r in results:
            self.assertTrue(r["correct"])
            self.assertEqual(r["failed"], 0)
            self.assertEqual(set(r["metrics"]), names)
        spec, release = results
        self.assertGreater(spec["metrics"]["DailyIngest.runDelta.jobs"]
                           ["value"], 0)
        self.assertGreater(release["metrics"]["ReleaseBuild.runOn.jobs"]
                           ["value"], 0)
        self.assertGreater(release["metrics"]["Materialize.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
