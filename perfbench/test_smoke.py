#!/usr/bin/env python3
"""Smoke tests of the benchmark harness: every workload at tiny sizes (and
the traced query slice on the sf0.001 fixture) must build, pass its own
output checks and print a result line that matches BENCHMARK.json.

    python3 perfbench/test_smoke.py        # from the repository root
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace, cwd=ROOT, runner=os.path.join(HERE, "run.py")):
    return subprocess.run(
        [sys.executable, runner, "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    def result(self, workload, trace):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], p.stderr[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        return res

    def test_end_to_end_metrics_on_every_workload(self):
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                ms = self.result(w["name"], 0)["metrics"]
                self.assertEqual({k: v["unit"] for k, v in ms.items()}, want)
                self.assertTrue(all(v["value"] > 0 for v in ms.values()), ms)

    def test_traced_run_reports_every_layer_metric(self):
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        ms = self.result("serve", 1)["metrics"]
        self.assertEqual({k: v["unit"] for k, v in ms.items()}, want)
        self.assertGreater(ms["SparkEntry.build_s.core"]["value"], 0)

    def test_refuses_to_run_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "data"))
            p = run("serve", 0, cwd=d,
                    runner=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip())


if __name__ == "__main__":
    unittest.main()
