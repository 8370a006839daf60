"""Self-tests of the benchmark's own arithmetic and schema.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def op(ms, kind="read", ok=True, phase="measure", rows=0, name="x"):
    return {"kind": kind, "name": name, "ms": ms, "ok": ok, "rows": rows,
            "error": "", "phase": phase}


def raw_result(ops, trace=None):
    r = {"setup_s": 12.5, "heap_readings_mb": [210.0, 200.0], "ops": ops,
         "end": {"store_bytes": 1000, "live_rows": 10}, "counters": {}}
    if trace is not None:
        r["trace"] = trace
    return r


class PercentileRule(unittest.TestCase):
    def test_median_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.percentile(list(range(20)), 0.5), 9.5)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertAlmostEqual(metrics.percentile(list(range(100)), 0.9), 89.1)

    def test_empty_and_unsorted_input(self):
        self.assertIsNone(metrics.percentile([], 0.5))
        vals = [5.0, 1.0, 3.0, 2.0, 4.0] * 4
        self.assertEqual(metrics.percentile(vals, 0.5), 3.0)

    def test_report_line_omits_unsupported_percentiles(self):
        e2e = metrics.end_to_end(raw_result([op(10.0)] * 19))
        self.assertIsNone(e2e["read_p50_ms"])
        self.assertEqual(e2e["read_n"], 19)
        e2e = metrics.end_to_end(raw_result([op(10.0)] * 20))
        self.assertEqual(e2e["read_p50_ms"], 10.0)


class ErrorCounting(unittest.TestCase):
    def test_failures_in_any_phase_count(self):
        ops = [op(1.0), op(1.0, ok=False), op(1.0, phase="warmup", ok=False),
               op(1.0, phase="final")]
        self.assertEqual(metrics.count_errors(ops), (4, 2))
        line = metrics.output_line(raw_result(ops), trace=False)
        self.assertFalse(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (4, 2))

    def test_error_rate(self):
        ops = [op(1.0)] * 3 + [op(1.0, ok=False)]
        self.assertEqual(metrics.end_to_end(raw_result(ops))["error_rate"],
                         0.25)

    def test_clean_run_is_correct(self):
        line = metrics.output_line(raw_result([op(2.0), op(4.0)]), False)
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)

    def test_missing_metric_is_an_error(self):
        raw = raw_result([op(2.0, kind="write")])  # no reads: no read mean
        with self.assertRaises(ValueError):
            metrics.output_line(raw, trace=False)


class ReportLine(unittest.TestCase):
    def test_every_figure_has_a_unit(self):
        ops = [op(10.0)] * 20 + [op(30.0, kind="write", rows=5)]
        rep = metrics.report(raw_result(ops))
        self.assertEqual(rep["read_p50_ms"], {"value": 10.0, "unit": "ms"})
        self.assertEqual(rep["read_n"], {"value": 20, "unit": "count"})
        self.assertNotIn("write_p50_ms", rep)
        for name, v in rep.items():
            self.assertRegex(name, metrics.NAME_RE)
            self.assertRegex(v["unit"], metrics.UNIT_RE)


class Throughput(unittest.TestCase):
    def test_ops_per_second_counts_measured_calls_only(self):
        ops = [op(500.0), op(1500.0, kind="write", rows=30),
               op(9999.0, phase="warmup")]
        e2e = metrics.end_to_end(raw_result(ops))
        self.assertEqual(e2e["ops_per_s"], 1.0)
        self.assertEqual(e2e["read_mean_ms"], 500.0)
        self.assertEqual(e2e["ingest_rows_per_s"], 20.0)
        self.assertEqual(e2e["store_bytes_per_row"], 100.0)
        self.assertEqual((e2e["heap_live_mb"], e2e["heap_peak_mb"]),
                         (200.0, 210.0))


class Schema(unittest.TestCase):
    def setUp(self):
        self.spec = metrics.benchmark_spec()

    def test_names_and_units(self):
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in self.spec[k]]
        names += [w["name"] for w in self.spec["workloads"]]
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
        self.assertEqual(len(names), len(set(names)))
        for k in ("end_to_end", "per_layer"):
            for m in self.spec[k]:
                self.assertRegex(m["unit"], metrics.UNIT_RE)
                self.assertIn(m["better"], ("higher", "lower"))

    def test_name_rule_rejects_bad_names(self):
        for bad in ("", "_x", "a b", "a/b", "x" * 65, "é"):
            self.assertIsNone(metrics.NAME_RE.match(bad), bad)
        self.assertIsNotNone(metrics.NAME_RE.match("query.q01_resample_1h_ms"))

    def test_limits(self):
        s = self.spec
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        for w in s["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        for m in s["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s",
                                  "better": "lower", "bound": max(
                                      m["bound"] for m in s["end_to_end"])}])

    def test_benchmark_json_matches_definitions(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.assertEqual(json.load(f), self.spec)

    def test_traced_line_reports_every_per_layer_metric(self):
        trace = {"spans": {"spans": {"md.getData_hit": {
            "self_p50_ms": 1.0, "incl_p50_ms": 7.0, "top": True}}},
            "layers": {"exec.jobs": 3.0}}
        ops = [op(10.0), op(12.5, phase="traced")]
        line = metrics.output_line(raw_result(ops, trace), trace=True)
        self.assertEqual(list(line["metrics"]),
                         [n for n, _, _ in metrics.per_layer()])
        self.assertAlmostEqual(
            line["metrics"]["trace.overhead_share"]["value"],
            0.2)
        self.assertEqual(line["metrics"]["md.getData_hit_ms"]["value"], 7.0)
        self.assertEqual(line["metrics"]["exec.jobs"]["value"], 3.0)

    def test_analytics_traced_line_adds_per_query_metrics(self):
        trace = {"spans": {"spans": {"query.q02_pricing_summary": {
            "self_p50_ms": 5.0, "incl_p50_ms": 9.0, "top": True}}},
            "layers": {}}
        raw = raw_result([op(10.0), op(12.0, phase="traced")], trace)
        raw["workload"] = "analytics_sf01"
        line = metrics.output_line(raw, trace=True)
        self.assertEqual(list(line["metrics"]), [
            n for n, _, _ in metrics.per_layer("analytics_sf01")])
        self.assertEqual(
            line["metrics"]["query.q02_pricing_summary_ms"]["value"], 9.0)
        self.assertNotIn("query.q02_pricing_summary_ms",
                         [m["name"] for m in self.spec["per_layer"]])

    def test_extra_workloads_are_not_listed(self):
        listed = [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(listed, list(metrics.WORKLOADS))
        self.assertFalse(set(listed) & set(metrics.EXTRA_WORKLOADS))

    def test_untraced_line_reports_every_end_to_end_metric(self):
        line = metrics.output_line(raw_result([op(10.0)]), trace=False)
        self.assertEqual(list(line["metrics"]),
                         [n for n, _, _, _ in metrics.END_TO_END])
        self.assertEqual(set(line), {"correct", "attempted", "failed",
                                     "metrics"})


if __name__ == "__main__":
    unittest.main()
