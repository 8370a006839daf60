"""Self-tests for tools/paired.py: python3 -m unittest discover -s tools -p 'test_paired.py'"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import paired  # noqa: E402


def runs(name, values):
    return [{name: v} for v in values]


class SummarizeTest(unittest.TestCase):

    def test_higher_is_better_gain(self):
        parent = runs("ops_per_s", [2.4, 2.5, 2.6, 2.5, 2.45, 2.55, 2.5, 2.6,
                                    2.4, 2.5])
        change = runs("ops_per_s", [2.9, 3.0, 2.95, 2.9, 3.1, 2.85, 3.0, 2.9,
                                    2.95, 3.0])
        s = paired.summarize(parent, change, {"ops_per_s": "higher"})
        m = s["ops_per_s"]
        self.assertEqual(m["wins"], 10)
        self.assertEqual(m["pairs"], 10)
        self.assertAlmostEqual(m["parent"]["median"], 2.5)
        self.assertAlmostEqual(m["change"]["median"], 2.95)
        self.assertAlmostEqual(m["gap"], 0.45)
        self.assertTrue(m["gap"] > m["parent_iqr"])
        self.assertTrue(m["gain"])

    def test_lower_is_better_direction(self):
        parent = runs("read_mean_ms", [100.0] * 10)
        change = runs("read_mean_ms", [90.0] * 10)
        m = paired.summarize(parent, change,
                             {"read_mean_ms": "lower"})["read_mean_ms"]
        self.assertEqual(m["wins"], 10)
        self.assertAlmostEqual(m["gap"], 10.0)
        self.assertAlmostEqual(m["change_pct"], -10.0)
        self.assertTrue(m["gain"])
        # the same numbers read the other way are ten losses
        m = paired.summarize(parent, change,
                             {"read_mean_ms": "higher"})["read_mean_ms"]
        self.assertEqual((m["wins"], m["losses"]), (0, 10))
        self.assertFalse(m["gain"])

    def test_eight_of_ten_is_not_a_gain(self):
        parent = runs("x", [10.0] * 10)
        change = runs("x", [20.0] * 8 + [5.0] * 2)
        m = paired.summarize(parent, change, {"x": "higher"})["x"]
        self.assertEqual((m["wins"], m["losses"]), (8, 2))
        self.assertFalse(m["gain"])

    def test_ties_count_for_neither_side(self):
        parent = runs("x", [10.0] * 10)
        change = runs("x", [20.0] * 9 + [10.0])
        m = paired.summarize(parent, change, {"x": "higher"})["x"]
        self.assertEqual((m["wins"], m["losses"], m["ties"]), (9, 0, 1))
        self.assertTrue(m["gain"])

    def test_gap_within_parent_iqr_is_not_a_gain(self):
        parent = runs("x", [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0,
                            10.0])
        change = runs("x", [v + 0.5 for v in [1.0, 2.0, 3.0, 4.0, 5.0, 6.0,
                                              7.0, 8.0, 9.0, 10.0]])
        m = paired.summarize(parent, change, {"x": "higher"})["x"]
        self.assertEqual(m["wins"], 10)
        self.assertAlmostEqual(m["parent_iqr"], 4.5)
        self.assertFalse(m["gain"])

    def test_missing_metric_skips_the_pair(self):
        parent = [{"x": 1.0}, {}, {"x": 1.0}]
        change = [{"x": 2.0}, {"x": 9.0}, {"x": 2.0}]
        m = paired.summarize(parent, change, {"x": "higher", "y": "lower"})
        self.assertEqual(m["x"]["pairs"], 2)
        self.assertNotIn("y", m)

    def test_unequal_run_counts_refused(self):
        with self.assertRaises(ValueError):
            paired.summarize([{"x": 1.0}], [], {"x": "higher"})


class ParsingTest(unittest.TestCase):

    def test_result_line_is_the_last_json_line(self):
        out = "\n".join(["compiling", json.dumps({"report": {"a": 1}}),
                         json.dumps({"correct": True, "failed": 0,
                                     "metrics": {"x": {"value": 1.5}}}),
                         ""])
        self.assertEqual(paired.result_line(out)["metrics"]["x"]["value"], 1.5)
        with self.assertRaises(ValueError):
            paired.result_line("no json here")

    def test_gated_metrics_are_the_benchmarks(self):
        with open(os.path.join(paired.REPO, "BENCHMARK.json")) as f:
            gated = {m["name"]: m["better"]
                     for m in json.load(f)["end_to_end"]}
        self.assertEqual({n: b for n, _, b, _ in paired.metrics.END_TO_END},
                         gated)

if __name__ == "__main__":
    unittest.main()
