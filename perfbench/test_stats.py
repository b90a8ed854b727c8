"""Self-tests for the benchmark's arithmetic (stats.py).

    python3 perfbench/test_stats.py
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(range(10)))
        # 20 samples: p50 leaves 10 beyond, p75 only 5
        self.assertIsNone(stats.tail_percentile(range(20), candidates=(99.0, 75.0)))
        self.assertEqual(stats.tail_percentile(range(20), candidates=(75.0, 50.0)), (50.0, 9))

    def test_picks_highest_qualifying(self):
        xs = list(range(1, 1001))  # 1..1000
        self.assertEqual(stats.tail_percentile(xs), (99.0, 990))
        self.assertEqual(stats.beyond(1000, 99.0), 10)
        self.assertEqual(stats.beyond(1000, 99.9), 1)
        self.assertEqual(stats.tail_percentile(range(1, 10001))[0], 99.9)
        self.assertEqual(stats.tail_percentile(range(1, 201))[0], 95.0)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 3], 100), 5)
        self.assertEqual(stats.percentile([5, 1, 3], 1), 1)


class DriverGap(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(stats.union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(stats.uncovered((0, 10), [(0, 2), (5, 6)]), 7)

    def test_overlapping_and_nested(self):
        jobs = [(1, 4), (3, 6), (2, 3), (8, 9), (8, 9)]
        self.assertEqual(stats.union_length(jobs), 6)   # [1,6] + [8,9]
        self.assertEqual(stats.uncovered((0, 10), jobs), 4)

    def test_clipped_to_span_and_empty(self):
        self.assertEqual(stats.uncovered((2, 5), [(0, 3), (4, 9)]), 1)
        self.assertEqual(stats.uncovered((0, 5), []), 5)
        self.assertEqual(stats.uncovered((0, 5), [(6, 7)]), 5)
        self.assertEqual(stats.union_length([(3, 3)]), 0)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(stats.geomean([3.5]), 3.5)

    def test_rejects_nonpositive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class Summary(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 10.2, 11.8]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        s = stats.summary(xs)
        self.assertEqual((s["q1"], s["q3"]), (q1, q3))
        self.assertEqual(s["median"], statistics.median(xs))
        self.assertAlmostEqual(s["iqr_share"], (q3 - q1) / statistics.median(xs))
        self.assertEqual(s["n"], 10)

    def test_small_samples(self):
        self.assertEqual(stats.summary([4.0])["iqr_share"], 0.0)
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class Undisturbed(unittest.TestCase):
    def test_leaves_out_disturbed(self):
        self.assertEqual(stats.undisturbed([1, 2, 3], [0.0, 0.2, 0.05], 0.05), ([1, 3], 1))

    def test_keeps_all_when_every_one_is_disturbed(self):
        self.assertEqual(stats.undisturbed([1, 2], [0.3, 0.2], 0.05), ([1, 2], 0))


if __name__ == "__main__":
    unittest.main()
