import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)

    def test_unsorted_and_small(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 3], 90), 5)
        self.assertEqual(stats.percentile([7], 99), 7)
        # p90 of 24 samples is the 22nd smallest
        self.assertEqual(stats.percentile(list(range(24, 0, -1)), 90), 22)

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 9.5, 1.25, 7.0, 4.0, 8.0, 2.0, 6.5, 5.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [10.0] * 4 + [12.0] * 2 + [8.0] * 4
        q1, med, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)
        self.assertEqual(stats.spread([5.0, 5.0, 5.0]), 0.0)


if __name__ == "__main__":
    unittest.main()
