import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402
from graftbench import summary  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):
    """BENCHMARK.json names workloads run.py runs and exactly the metrics it reports."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.doc = json.load(f)

    def test_workloads(self):
        self.assertLessEqual({w["name"] for w in self.doc["workloads"]}, set(run.WORKLOADS))

    def test_metrics(self):
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in self.doc["end_to_end"]},
                         summary.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in self.doc["per_layer"]},
                         summary.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
