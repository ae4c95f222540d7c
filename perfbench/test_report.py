"""Tests of the metric reduction and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import pyarrow as pa

import report


def op(name, ms, ok=True, rows=10):
    return {"op": name, "ok": ok, "ms": ms, "rows": rows,
            "error": None if ok else "threw java.lang.RuntimeException: boom"}


def raw(passes, checks=(), trace=False):
    return {"trace": trace, "setup_s": [9.0, 2.0, 2.2], "peak_rss_mb": 900.0,
            "cold": {"ops": [op("a", 500), op("b", 700)], "layers": {}},
            "passes": passes, "checks": list(checks)}


class ReduceTest(unittest.TestCase):
    def test_throwing_op_is_failed_and_in_no_timing(self):
        passes = [{"traced": False, "layers": {},
                   "ops": [op("a", 100), op("b", 5, ok=False)]},
                  {"traced": False, "layers": {},
                   "ops": [op("a", 120), op("b", 300)]}]
        r = report.reduce(raw(passes), {})
        self.assertEqual(r["attempted"], 6)
        self.assertEqual(r["failed"], 1)
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed_ops"], ["b"])
        m = {k: v["value"] for k, v in r["metrics"].items()}
        # the failed 5 ms execution is in no timing
        self.assertAlmostEqual(m["pass_s"], 0.11 + 0.3)
        self.assertEqual(m["op_p50_ms"], (110 + 300) / 2)
        self.assertEqual(r["op_tail"], {"percentile": 100, "samples": 3, "ms": 300})
        self.assertEqual(m["setup_s"], 2.2)

    def test_wrong_output_counts_as_failed(self):
        passes = [{"traced": False, "layers": {}, "ops": [op("a", 100), op("b", 100)]}]
        checks = [{"op": "a", "error": None}, {"op": "b", "error": None}]
        r = report.reduce(raw(passes, checks), {"b": "row 3: 1.0 != 2.0"})
        self.assertEqual((r["failed"], r["correct"]), (1, False))
        self.assertEqual(r["failed_ops"], ["b"])

    def test_pass_is_summed_from_per_op_medians_of_two_passes(self):
        passes = [{"traced": False, "layers": {}, "ops": [op("a", 100), op("b", 200)]},
                  {"traced": False, "layers": {}, "ops": [op("a", 300), op("b", 220)]},
                  {"traced": False, "layers": {}, "ops": [op("a", 1), op("b", 1)]}]
        m = report.reduce(raw(passes), {})["metrics"]
        self.assertAlmostEqual(m["pass_s"]["value"], 0.2 + 0.21)

    def test_every_metric_reported_with_its_unit(self):
        passes = [{"traced": False, "layers": {}, "ops": [op("a", 100)]}] * 2
        r = report.reduce(raw(passes), {})
        self.assertEqual(set(r["metrics"]), set(report.END_TO_END))
        self.assertTrue(all(v["value"] > 0 for v in r["metrics"].values()))


class OracleTest(unittest.TestCase):
    want = pa.table({"k": [1, 2, 3], "v": [1.5, 2.5, float("nan")]})

    def test_equal_tables_match_in_any_row_order(self):
        got = pa.table({"v": [float("nan"), 2.5, 1.5], "k": [3, 2, 1]})
        self.assertIsNone(report.compare_arrow(got, self.want))

    def test_wrong_value_is_caught(self):
        got = pa.table({"k": [1, 2, 3], "v": [1.5, 2.5000001, float("nan")]})
        self.assertIn("row 1", report.compare_arrow(got, self.want))

    def test_wrong_shape_is_caught(self):
        self.assertIn("rows", report.compare_arrow(self.want.slice(0, 2), self.want))
        got = pa.table({"k": [1.0, 2.0, 3.0], "v": [1.5, 2.5, float("nan")]})
        self.assertIn("type families", report.compare_arrow(got, self.want))


class StatsTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 201))
        self.assertEqual(report.tail(xs, [1]), (95, 190))
        self.assertEqual(report.tail(list(range(1, 41)), [1]), (75, 30))
        # too few samples: the slowest op's median
        self.assertEqual(report.tail([3, 1, 2, 10], [2, 6]), (100, 6))

    def test_compare_refuses_other_fixtures_or_cores(self):
        base = {"fixtures": {"a.parquet": "1"}, "nproc": 4, "workload": "w", "traced": False}
        a = {"provenance": base}
        self.assertIsNone(report.comparable(a, {"provenance": dict(base)}))
        self.assertEqual(report.comparable(a, {"provenance": {**base, "nproc": 8}}),
                         "nproc differs")
        other = {**base, "fixtures": {"a.parquet": "2"}}
        self.assertEqual(report.comparable(a, {"provenance": other}), "fixtures differs")


if __name__ == "__main__":
    unittest.main()
