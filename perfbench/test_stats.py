"""Self-tests for the benchmark's statistics and metric derivation.

    python3 perfbench/test_stats.py
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 60), 3)

    def test_out_of_range(self):
        for p in (0, -1, 101):
            with self.assertRaises(ValueError):
                stats.percentile([1, 2], p)


class TailRuleTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # 100 distinct samples: p90 leaves exactly 10 above it
        xs = list(range(100))
        self.assertTrue(stats.tail_ok(xs, 90))
        self.assertFalse(stats.tail_ok(xs, 91))
        self.assertFalse(stats.tail_ok(list(range(99)), 90))

    def test_ties_at_the_percentile_do_not_count(self):
        xs = [1.0] * 95 + [2.0] * 5
        self.assertEqual(stats.beyond(xs, stats.percentile(xs, 50)), 5)
        self.assertFalse(stats.tail_ok(xs, 50))

    def test_highest_allowed(self):
        self.assertEqual(stats.highest_tail(list(range(1000))), 99)
        self.assertEqual(stats.highest_tail(list(range(100))), 90)
        self.assertEqual(stats.highest_tail(list(range(40))), 75)
        self.assertIsNone(stats.highest_tail(list(range(15))))


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [7.0, 1.0, 3.0, 9.0, 4.0, 6.0, 2.0, 8.0, 5.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [9.0, 10.0, 10.0, 10.0, 11.0, 9.0, 10.0, 11.0, 10.0, 10.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / statistics.median(xs))

    def test_identical_runs_have_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class AgreementTest(unittest.TestCase):
    def test_lower_is_better(self):
        first = [100.0] * 10
        self.assertTrue(stats.agree(first, [110.0] * 10, 0.15, "lower"))
        self.assertFalse(stats.agree(first, [120.0] * 10, 0.15, "lower"))
        self.assertTrue(stats.agree(first, [50.0] * 10, 0.15, "lower"))

    def test_higher_is_better(self):
        first = [100.0] * 10
        self.assertTrue(stats.agree(first, [90.0] * 10, 0.15, "higher"))
        self.assertFalse(stats.agree(first, [80.0] * 10, 0.15, "higher"))
        self.assertTrue(stats.agree(first, [200.0] * 10, 0.15, "higher"))

    def test_uses_medians(self):
        first = [100.0] * 9 + [1000.0]
        second = [105.0] * 9 + [1.0]
        self.assertAlmostEqual(stats.worse_by(first, second, "lower"), 0.05)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, name, a, b, p=1):
        return {"id": i, "parent": parent, "pass": p, "op": "q",
                "name": name, "start_us": a, "end_us": b}

    def test_children_are_subtracted_once(self):
        spans = [self.span(0, -1, "op", 0, 10000),
                 self.span(1, 0, "build", 0, 2000),
                 self.span(2, 0, "action", 2000, 10000),
                 self.span(3, 2, "job", 3000, 8000),
                 self.span(4, 3, "stage", 3000, 6000),
                 self.span(5, 3, "stage", 5000, 7000),
                 self.span(6, 2, "phase.planning", 2000, 3000)]
        t = metrics.self_times(spans)
        self.assertEqual(t["harness"], 0.0)
        self.assertEqual(t["queries"], 2.0)
        self.assertEqual(t["action"], 2.0)  # 8 ms minus 5 ms of job, 1 ms of phase
        self.assertEqual(t["catalyst"], 1.0)
        self.assertEqual(t["exec"], 1.0 + 3.0 + 2.0)  # job gap plus both stages

    def test_median_over_passes(self):
        spans = [self.span(0, -1, "extract", 0, 1000, p=0),
                 self.span(1, -1, "extract", 0, 3000, p=1),
                 self.span(2, -1, "extract", 0, 2000, p=2)]
        self.assertEqual(metrics.self_times(spans)["lineage"], 2.0)


class PassTest(unittest.TestCase):
    def test_pass_is_sum_of_op_medians(self):
        rows = [("a", "c", 0, 0, 100.0, 1.0), ("a", "c", 1, 0, 300.0, 3.0),
                ("a", "c", 2, 0, 200.0, 2.0), ("b", "c", 0, 0, 1000.0, 10.0),
                ("b", "c", 1, 0, 3000.0, 30.0)]
        self.assertAlmostEqual(metrics._pass_s(rows), (200.0 + 2000.0) / 1000.0)
        self.assertAlmostEqual(metrics._pass_s(rows, 5), (2.0 + 20.0) / 1000.0)


if __name__ == "__main__":
    unittest.main()
