"""The benchmark's own test: metric names and units in BENCHMARK.json,
the harness's metric tables and spec.json agree, and the pure helpers
behave. No Spark, no build.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def _load(path):
    with open(path) as fh:
        return json.load(fh)


class ContractTest(unittest.TestCase):
    bench = _load(os.path.join(HERE, "..", "BENCHMARK.json"))
    spec = _load(os.path.join(HERE, "spec.json"))

    def test_end_to_end_names_and_units(self):
        got = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(got, run.END_TO_END)
        for m in self.bench["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in self.bench["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["better"], "lower")
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.bench["end_to_end"]))

    def test_per_layer_names_and_units(self):
        got = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(got, run.PER_LAYER)

    def test_workloads_are_runnable(self):
        names = [w["name"] for w in self.bench["workloads"]]
        self.assertTrue(set(names) <= set(run.LAKES))
        self.assertEqual(set(names), set(self.spec["workloads"]))
        self.assertTrue(set(self.spec["dropped"]) <= set(run.LAKES))

    def test_layer_map_names_known_metrics(self):
        e2e = set(run.END_TO_END) | set(run.EXTRA_END_TO_END)
        for row in self.spec["layer_map"]:
            self.assertTrue(set(row["layer_metrics"]) <= set(run.PER_LAYER), row)
            self.assertTrue(set(row["moves"]) <= e2e, row)
            self.assertTrue(set(row["on"]) <= set(run.LAKES), row)


class HelperTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(run.tail(list(range(19)))[1], None)
        v, p, n = run.tail([float(i) for i in range(1, 41)])
        self.assertEqual((v, p, n), (30.0, 75.0, 40))
        self.assertEqual(run.tail(list(range(1000)))[1], 99.0)

    def test_percentile_nearest_rank(self):
        self.assertEqual(run.percentile([1, 2, 3, 4], 50.0), 2)
        self.assertEqual(run.percentile([1, 2, 3, 4], 99.0), 4)


if __name__ == "__main__":
    unittest.main()
