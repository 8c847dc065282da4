"""Percentile, spread and self-time helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond_the_percentile(self):
        for p, enough in ((95, 200), (90, 100), (50, 20)):
            with self.subTest(p=p):
                xs = [float(i) for i in range(enough)]
                self.assertEqual(enough - xs.index(stats.percentile(xs, p)) - 1,
                                 stats.MIN_BEYOND)
                with self.assertRaises(ValueError):
                    stats.percentile(xs[:-1], p)

    def test_nearest_rank(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.percentile(xs, 95), 190)
        self.assertEqual(stats.percentile(list(reversed(xs)), 50), 100)

    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 1.0, 0.98, 1.01, 1.03]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / med)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        s = 1_000_000_000
        spans = [
            {"id": 1, "parent": -1, "start_ns": 0, "end_ns": 10 * s},
            {"id": 2, "parent": 1, "start_ns": 1 * s, "end_ns": 4 * s},
            {"id": 3, "parent": 1, "start_ns": 3 * s, "end_ns": 5 * s},  # overlaps 2
            {"id": 4, "parent": 1, "start_ns": 9 * s, "end_ns": 12 * s},  # clipped
            {"id": 5, "parent": 2, "start_ns": 2 * s, "end_ns": 3 * s},
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got[1], 10 - 4 - 1)
        self.assertAlmostEqual(got[2], 2)
        self.assertAlmostEqual(got[3], 2)
        self.assertAlmostEqual(got[5], 1)


if __name__ == "__main__":
    unittest.main()
