"""Tests for the report of perfbench/run.py and its agreement with
BENCHMARK.json. Run: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import run  # noqa: E402
from test_metrics import raw_run  # noqa: E402

CTX = {"workload": "audience", "seed": 7}


def spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class ReportTest(unittest.TestCase):
    def raw(self):
        r = raw_run()
        r["warmup"] = [{"query": "qa", "error": None}, {"query": "qb", "error": None}]
        return r

    def test_result_shape_untraced(self):
        lines, result = run.report(self.raw(), {}, 0, CTX)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((result["correct"], result["attempted"], result["failed"]), (True, 6, 0))
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec()["end_to_end"]})
        for m in spec()["end_to_end"]:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertEqual(set(result["metrics"][m["name"]]), {"value", "unit"})
        self.assertTrue(lines[0].startswith("perfbench audience seed=7"))
        self.assertTrue(any(l.startswith("latency query_p50_ms") for l in lines))
        json.dumps(result, allow_nan=False)

    def test_result_shape_traced(self):
        _, result = run.report(self.raw(), {}, 1, CTX)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec()["per_layer"]})
        for m in spec()["per_layer"]:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])

    def test_wrong_result_fails_every_execution(self):
        raw = self.raw()
        raw["executions"][0]["error"] = "boom"
        lines, result = run.report(raw, {"qb": "value mismatch"}, 0, CTX)
        # qb: its check and its two timed executions; qa: one errored execution
        self.assertEqual((result["correct"], result["failed"]), (False, 4))
        self.assertTrue(any(l.startswith("wrong   qb") for l in lines))
        self.assertTrue(any(l.startswith("error   pass 1 qa") for l in lines))


class SpecTest(unittest.TestCase):
    def test_command_and_workloads(self):
        s = spec()
        self.assertEqual(s["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(tuple(w["name"] for w in s["workloads"]), run.WORKLOADS)
        self.assertIn("setup_s", {m["name"] for m in s["end_to_end"]})
        bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
