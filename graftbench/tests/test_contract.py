"""BENCHMARK.json names exactly the metrics the benchmark prints, and the
benchmark refuses to run without graft's sources beside it.

    python3 -m unittest discover -s graftbench/tests
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


class ContractTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_metric_names_match_the_printed_metrics(self):
        self.assertEqual([m["name"] for m in self.b["end_to_end"]], metrics.E2E)
        layer = metrics.zero_layer()
        self.assertEqual({m["name"]: m["unit"] for m in self.b["per_layer"]},
                         {k: v["unit"] for k, v in layer.items()})

    def test_fields_within_limits(self):
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [m["name"] for m in self.b["end_to_end"] + self.b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in self.b["end_to_end"] + self.b["per_layer"]:
            self.assertRegex(m["name"], name)
            self.assertRegex(m["unit"], unit)
            self.assertIn(m["better"], ("higher", "lower"))
        for m in self.b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        for w in self.b["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)


class StandaloneTest(unittest.TestCase):
    def test_fails_without_graft_sources(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copytree(HERE, os.path.join(d, "graftbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            r = subprocess.run([sys.executable, "graftbench/run.py", "--workload", "ingest",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn("metrics", r.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
