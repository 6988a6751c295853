"""Percentile math of the benchmark reports.

    python3 -m unittest discover -s claimbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import median, percentile  # noqa: E402


class PercentileTest(unittest.TestCase):

    def test_interpolates_between_closest_ranks(self):
        xs = [10.0, 20.0, 30.0, 40.0]
        self.assertEqual(percentile(xs, 0), 10.0)
        self.assertEqual(percentile(xs, 100), 40.0)
        self.assertAlmostEqual(percentile(xs, 50), 25.0)
        # rank (4 - 1) * 0.9 = 2.7: 30 + 0.7 * (40 - 30)
        self.assertAlmostEqual(percentile(xs, 90), 37.0)

    def test_order_of_input_does_not_matter(self):
        self.assertEqual(percentile([3, 1, 2], 50), 2)
        self.assertEqual(median([5.0, 1.0, 4.0, 2.0]), 3.0)

    def test_single_sample_is_every_percentile(self):
        for q in (0, 50, 90, 100):
            self.assertEqual(percentile([7.5], q), 7.5)

    def test_matches_inclusive_quantiles(self):
        xs = [0.41, 0.52, 0.47, 0.66, 0.58, 0.49, 0.61, 0.55, 0.44, 0.71]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(percentile(xs, 25), q1)
        self.assertAlmostEqual(percentile(xs, 50), q2)
        self.assertAlmostEqual(percentile(xs, 75), q3)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            percentile([], 50)
        with self.assertRaises(ValueError):
            percentile([1.0], 101)


if __name__ == "__main__":
    unittest.main()
