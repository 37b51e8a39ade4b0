"""Tests for the benchmark's own helpers: statistics, failure counting, the
catalog oracle comparison, the result line and the metric lists.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import unittest

import oracle
import run
import stats


class StatsTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.1, 4.9, 5.3, 5.0, 6.2, 4.8, 5.2, 5.05, 4.95, 5.4]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_quartiles_of_one_sample(self):
        self.assertEqual(stats.quartiles([2.0]), (2.0, 2.0, 2.0))
        self.assertEqual(stats.spread([2.0]), 0.0)

    def test_tail_has_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        pct, value, n = stats.tail(xs)
        self.assertEqual((pct, value, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_tail_at_eleven_samples_and_below(self):
        xs = [float(i) for i in range(11)]
        pct, value, n = stats.tail(xs)
        self.assertEqual((value, n), (0.0, 11))
        self.assertEqual(pct, 9)
        self.assertIsNone(stats.tail(xs[:10]))

    def test_tail_rounds_the_percentile_down(self):
        xs = [float(i) for i in range(37)]
        pct, value, _ = stats.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(pct, 72)  # 27 of 37 at or below = 72.97 %

    def test_fail_ratio_counts(self):
        self.assertEqual(stats.fail_ratio(10, 0), 0.0)
        self.assertEqual(stats.fail_ratio(8, 2), 0.25)
        self.assertEqual(stats.fail_ratio(3, 3), 1.0)
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)
        with self.assertRaises(ValueError):
            stats.fail_ratio(2, 3)


class OracleTest(unittest.TestCase):
    COLS = ["k", "n", "v"]
    ROWS = [("a", 1, 0.5), ("b", 2, 1.25), ("c", 3, None)]

    def test_identical_rows_in_any_order_pass(self):
        shuffled = [self.ROWS[2], self.ROWS[0], self.ROWS[1]]
        self.assertIsNone(oracle.compare(self.COLS, self.ROWS, self.COLS, shuffled))

    def test_column_order_does_not_matter(self):
        ocols = ["v", "k", "n"]
        orows = [(v, k, n) for k, n, v in self.ROWS]
        self.assertIsNone(oracle.compare(self.COLS, self.ROWS, ocols, orows))

    def test_dropped_row_fails(self):
        self.assertIn("rows", oracle.compare(self.COLS, self.ROWS[:2], self.COLS, self.ROWS))

    def test_changed_value_fails(self):
        bad = [("a", 1, 0.5), ("b", 2, 1.26), ("c", 3, None)]
        self.assertIn("values", oracle.compare(self.COLS, bad, self.COLS, self.ROWS))

    def test_renamed_column_fails(self):
        self.assertIn("columns", oracle.compare(["k", "n", "w"], self.ROWS, self.COLS, self.ROWS))

    def test_decimal_never_matches_its_float(self):
        import decimal
        dec = [("a", 1, decimal.Decimal("0.5"))]
        self.assertIsNotNone(oracle.compare(self.COLS, dec, self.COLS, [("a", 1, 0.5)]))


class ReportTest(unittest.TestCase):
    HOST = {"steal_permille": 3.0, "load_avg": 1.5, "nproc": 4}

    def jvm_result(self, **kw):
        res = {"session_s": 6.5, "setup_reps_s": [0.4, 0.3, 0.5], "samples": {},
               "peak_rss_mb": 900.0, "layer": {}, "run_id": "r"}
        res.update(kw)
        return res

    def test_run_whose_operations_threw_reports_failure(self):
        # a build that threw: no build sample, no cycle; the run aborted
        res = self.jvm_result(cycles=0, loop_cpu_s=0.0, measured_s=0.1)
        info, out = run.report("build", 7, 0, res, attempted=2, failed=2, host=self.HOST)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (2, 2))
        self.assertEqual(set(out["metrics"]), {"setup_s"})
        self.assertEqual(info["metrics"]["fail_ratio"]["value"], 1.0)
        self.assertEqual(info["seed"], 7)
        json.dumps(out)

    def test_run_aborted_in_setup_reports_failure(self):
        res = {"session_s": 6.5, "peak_rss_mb": 500.0}
        _, out = run.report("catalog", 1, 0, res, attempted=1, failed=1, host=self.HOST)
        self.assertFalse(out["correct"])
        self.assertEqual(out["metrics"], {})

    def test_traced_failed_run_reports_fail_ratio(self):
        _, out = run.report("catalog", 1, 1, self.jvm_result(), attempted=13, failed=1,
                            host=self.HOST)
        self.assertFalse(out["correct"])
        self.assertAlmostEqual(out["metrics"]["fail_ratio"]["value"], 1 / 13)
        self.assertEqual(len(out["metrics"]), len(run.per_layer()))

    def test_good_run_reports_every_end_to_end_metric(self):
        res = self.jvm_result(samples={"build_s": [5.0, 6.0, 7.0], "triples": [24191.0] * 3},
                              cycles=3, loop_cpu_s=60.0, measured_s=18.0)
        info, out = run.report("build", 1, 0, res, attempted=3, failed=0, host=self.HOST)
        self.assertTrue(out["correct"])
        self.assertEqual(info["metrics"]["cpu_s_per_op"]["value"], 20.0)
        self.assertEqual(out["metrics"]["op_p50_s"]["value"], 6.0)
        self.assertAlmostEqual(out["metrics"]["setup_s"]["value"], 6.9)
        self.assertEqual([n for n, _ in run.END_TO_END], list(out["metrics"]))


class MetricListTest(unittest.TestCase):
    def test_benchmark_json_lists_what_the_runner_reports(self):
        here = os.path.dirname(os.path.abspath(__file__))
        spec = json.load(open(os.path.join(os.path.dirname(here), "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.per_layer())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
