"""Tests for run.py's helpers: python3 -m unittest discover perfbench"""

import json
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Helpers(unittest.TestCase):
    def test_median_and_spread(self):
        self.assertEqual(run.median([3, 1, 2]), 2)
        self.assertEqual(run.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            run.median([])
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(run.quartile_spread(xs), (q3 - q1) / 5.5)

    def test_declared_metrics_are_valid(self):
        self.assertEqual(run.validate_spec(spec()), [])

    def test_bad_names_and_units_are_reported(self):
        bad = {"workloads": [{"name": "w"}],
               "end_to_end": [{"name": "_x", "unit": "s"},
                              {"name": "w", "unit": "a b"}],
               "per_layer": [{"name": "a" * 65, "unit": "s"}]}
        problems = " ".join(run.validate_spec(bad))
        for part in ("'_x'", "used twice", "'a b'", "lacks setup_s", "a" * 65):
            self.assertIn(part, problems)

    def test_end_to_end_values(self):
        raw = {"pass_s": [2.0, 4.0, 3.0], "setup_s": [1.0, 5.0, 2.0],
               "items": 300, "recall": 0.99, "precision": 1.0}
        v = run.end_to_end_values(raw)
        self.assertEqual(v["pass_s"], 3.0)
        self.assertEqual(v["items_per_s"], 100.0)
        self.assertEqual(v["setup_s"], 2.0)
        self.assertEqual(set(v), {m["name"] for m in spec()["end_to_end"]})

    def test_per_layer_values_fill_only_layers_not_run(self):
        raw = {"per_layer": {"dedup.clusters": {"value": 7, "unit": "count"}},
               "pass_s": [2.0], "probe_s": [0.2, 0.4], "traced_pass_s": 2.5,
               "not_run": ["job."]}
        v = run.per_layer_values(raw, ["dedup.clusters", "job.edges.rows",
                                       "host.probe_s", "trace.overhead_ratio"])
        self.assertEqual(v, {"dedup.clusters": 7, "job.edges.rows": 0.0,
                             "host.probe_s": 0.30000000000000004,
                             "trace.overhead_ratio": 0.25})
        with self.assertRaises(KeyError):
            run.per_layer_values(raw, ["cc.jobs"])

    def test_result_line(self):
        line = run.result_line(True, 5, 0, {"pass_s": 1.5}, {"pass_s": "s"})
        self.assertEqual(json.loads(line), {
            "correct": True, "attempted": 5, "failed": 0,
            "metrics": {"pass_s": {"value": 1.5, "unit": "s"}}})
        self.assertNotIn("\n", line)
        with self.assertRaises(ValueError):
            run.result_line(True, 1, 0, {"x": math.nan}, {"x": "s"})


if __name__ == "__main__":
    unittest.main()
