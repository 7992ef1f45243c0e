"""Self-tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import metrics
import oracle


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond_the_reported_percentile(self):
        for n in range(11, 300):
            p, value, count = metrics.tail_percentile(list(range(n)))
            rank = math.ceil(p * n / 100)
            self.assertEqual(count, n)
            self.assertEqual(value, rank - 1)
            self.assertGreaterEqual(n - rank, 10)
            if p < 99:  # the next percentile up has fewer than ten beyond
                self.assertLess(n - math.ceil((p + 1) * n / 100), 10)

    def test_known_points(self):
        self.assertEqual(metrics.tail_percentile(range(38))[:2], (73, 27))
        self.assertEqual(metrics.tail_percentile(range(20))[:2], (50, 9))
        self.assertEqual(metrics.tail_percentile(range(1000))[:2], (99, 989))

    def test_unsorted_input(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(metrics.tail_percentile(xs),
                         metrics.tail_percentile(sorted(xs)))

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(range(10)))
        self.assertIsNone(metrics.tail_percentile([]))


class CountFailures(unittest.TestCase):
    checked = {"ok": 5, "boom": 3, "wrong": 7, "drift": 2}

    def sample(self, q, rows, error=None):
        s = {"query": q, "rows": rows}
        if error:
            s["error"] = error
        return s

    def test_throwing_and_wrong_answer_queries_both_count(self):
        samples = [self.sample("ok", 5),
                   self.sample("boom", -1, "java.lang.IllegalStateException: x"),
                   self.sample("wrong", 7)]
        failed, reasons = metrics.count_failures(
            samples, self.checked, {"wrong": "col x row 0: spark=1 duckdb=2"})
        self.assertEqual(failed, 2)
        self.assertIn("IllegalStateException", reasons["boom"])
        self.assertIn("output check", reasons["wrong"])
        self.assertNotIn("ok", reasons)

    def test_row_count_differing_from_the_checked_pass_counts(self):
        failed, reasons = metrics.count_failures(
            [self.sample("drift", 2), self.sample("drift", 3)], self.checked, {})
        self.assertEqual(failed, 1)
        self.assertIn("row count 3", reasons["drift"])

    def test_query_that_failed_its_checked_pass_fails_every_sample(self):
        failed, _ = metrics.count_failures(
            [self.sample("gone", 4), self.sample("gone", 4)], {}, {})
        self.assertEqual(failed, 2)


class OrderDependent(unittest.TestCase):
    def test_first_and_last_pass_compared(self):
        fps = {"a": {0: "X", 1: "Y", 3: "Y"}, "b": {0: "Z", 3: "Z"},
               "c": {0: "P", 1: "Q", 3: "P"}}
        self.assertEqual(metrics.order_dependent(fps), ["a"])


class AAVerdict(unittest.TestCase):
    specs = [{"name": "lat", "better": "lower", "bound": 0.1},
             {"name": "qpm", "better": "higher", "bound": 0.1},
             {"name": "setup_s", "better": "lower", "bound": 0.2}]

    def runs(self, lat, qpm, setup):
        return [{"lat": a, "qpm": b, "setup_s": c}
                for a, b, c in zip(lat, qpm, setup)]

    def verdict(self, a, b):
        return {r[0]: r[-1] for r in metrics.aa_verdict(a, b, self.specs)}

    def test_same_runs_pass(self):
        a = self.runs([1.0, 1.01, 0.99, 1.0, 1.02], [60, 61, 59, 60, 60],
                      [2, 2.1, 1.9, 2, 2])
        self.assertTrue(all(self.verdict(a, a).values()))

    def test_worse_second_median_fails_in_the_metrics_direction(self):
        a = self.runs([1.0] * 5, [60] * 5, [2] * 5)
        b = self.runs([1.2] * 5, [70] * 5, [2] * 5)  # slower, but more qpm
        v = self.verdict(a, b)
        self.assertFalse(v["lat"])
        self.assertTrue(v["qpm"])
        c = self.runs([1.0] * 5, [50] * 5, [2] * 5)
        self.assertFalse(self.verdict(a, c)["qpm"])

    def test_spread_beyond_the_bound_fails(self):
        noisy = [0.5, 1.0, 1.5, 1.0, 0.6, 1.4]
        a = self.runs(noisy, [60] * 6, [1, 2, 3, 2, 1, 3])
        v = self.verdict(a, a)
        self.assertFalse(v["lat"])
        self.assertTrue(v["qpm"])
        self.assertFalse(v["setup_s"])

    def test_spread_is_interquartile_distance_over_median(self):
        self.assertAlmostEqual(metrics.spread([1, 2, 3, 4, 5]), 3.0 / 3.0)


class OracleCompare(unittest.TestCase):
    def test_integral_float_equals_int_and_first_difference_named(self):
        # DuckDB's HUGEINT sums arrive as floats, Spark's BIGINT ones as ints
        import pandas as pd
        got = pd.DataFrame({"k": ["a", "b"], "n": [1, 2], "x": [0.5, 1.0]})
        same = pd.DataFrame({"k": ["a", "b"], "n": [1.0, 2.0], "x": [0.5, 1.0]})
        self.assertIsNone(oracle.compare(got, same))
        off = pd.DataFrame({"k": ["a", "b"], "n": [1, 2], "x": [0.5, 1.0000001]})
        self.assertIn("col x row 1", oracle.compare(got, off))
        self.assertIn("rows", oracle.compare(got, same.iloc[:1]))


if __name__ == "__main__":
    unittest.main()
