"""Percentile refusal and span self-time arithmetic."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start_us": start, "end_us": end}


class PercentileTest(unittest.TestCase):
    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 50)
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(199)), 95)
        self.assertEqual(stats.percentile(list(range(1, 201)), 95), 190)

    def test_harrell_davis(self):
        values = list(range(1, 21))
        self.assertAlmostEqual(stats.hd_percentile(values, 50), 10.5, places=6)
        # Equal weights change nothing; weight on the top value pulls it up.
        self.assertAlmostEqual(stats.hd_percentile(values, 50, [3] * 20), 10.5, places=6)
        self.assertGreater(stats.hd_percentile(values, 50, [1] * 19 + [30]), 15)
        # One outlier moves it less than it moves the mean.
        spiked = values[:-1] + [1000]
        self.assertLess(stats.hd_percentile(spiked, 50) - 10.5, 1)
        with self.assertRaises(ValueError):
            stats.hd_percentile(values[:19], 50)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_covered_merges_overlaps(self):
        self.assertEqual(stats.covered([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.covered([]), 0)

    def test_self_time_subtracts_children(self):
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "construct", 0, 30),
                 span(3, 1, "execute", 30, 100),
                 span(4, 3, "spark.job", 40, 70),
                 span(5, 3, "spark.job", 60, 90),   # overlaps its sibling
                 span(6, 2, "spark.job", 20, 45)]   # runs past its parent
        got = stats.self_times(spans)
        self.assertEqual(got["op"], 0)
        self.assertEqual(got["construct"], 20)
        self.assertEqual(got["execute"], 20)
        self.assertEqual(got["spark.job"], 30 + 30 + 25)


if __name__ == "__main__":
    unittest.main()
