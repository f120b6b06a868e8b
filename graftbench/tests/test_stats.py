"""Percentiles with sample support, quartiles, open-loop lateness and span
self time.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import lateness, percentile, quartiles, self_times, spread  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(percentile(xs, 50)[0], 50)
        self.assertEqual(percentile(xs, 99)[0], 99)
        self.assertEqual(percentile(list(reversed(xs)), 90)[0], 90)

    def test_support_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertTrue(percentile(xs, 90)[2])    # 10 samples above p90
        self.assertFalse(percentile(xs, 95)[2])   # only 5 above p95
        self.assertEqual(percentile(xs, 95)[1], 100)
        self.assertTrue(percentile(list(range(1000)), 99)[2])

    def test_weighted_samples_count_by_weight(self):
        # 990 events at 100 ms, 10 at 500 ms: p99 is still 100 ms and is
        # supported by exactly ten events beyond it.
        value, n, supported = percentile([(100, 990), (500, 10)], 99)
        self.assertEqual((value, n, supported), (100, 1000, True))
        self.assertEqual(percentile([(100, 989), (500, 11)], 99)[0], 500)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            percentile([], 50)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        self.assertEqual(quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        q1, q2, q3 = statistics.quantiles([10, 11, 12, 13, 14], n=4)
        self.assertAlmostEqual(spread([10, 11, 12, 13, 14]), (q3 - q1) / q2)
        self.assertEqual(spread([5.0] * 10), 0.0)


class LatenessTest(unittest.TestCase):
    def test_late_ticks_are_counted_from_their_due_time(self):
        files = [{"due_ms": 0, "visible_ms": 5}, {"due_ms": 20, "visible_ms": 20},
                 {"due_ms": 40, "visible_ms": 90}, {"due_ms": 60, "visible_ms": 91}]
        worst, mean, late_ticks = lateness(files)
        self.assertEqual(worst, 50)
        self.assertAlmostEqual(mean, (5 + 0 + 50 + 31) / 4)
        # The stall delays the tick behind it too: both count as late.
        self.assertEqual(late_ticks, 2)

    def test_on_time_generator(self):
        self.assertEqual(lateness([{"due_ms": 0, "visible_ms": 0}])[0], 0)
        self.assertEqual(lateness([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_is_counted_once(self):
        spans = [{"id": 1, "parent": 0, "start_ms": 0, "end_ms": 100},
                 {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 40},
                 {"id": 3, "parent": 1, "start_ms": 30, "end_ms": 50},
                 {"id": 4, "parent": 1, "start_ms": 90, "end_ms": 120}]
        st = self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 30)


if __name__ == "__main__":
    unittest.main()
