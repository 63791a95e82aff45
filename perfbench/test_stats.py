"""Tests of the statistics helpers. Run: python3 -m unittest perfbench/test_stats.py"""

import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    @staticmethod
    def beyond(n, q):
        return n - 1 - math.floor((n - 1) * q / 100.0)

    def test_leaves_ten_samples_beyond(self):
        for n in (21, 22, 44, 100, 1000):
            q = stats.tail_percentile(n)
            self.assertGreaterEqual(self.beyond(n, q), 10, n)
            # one percentile higher would leave fewer than ten
            self.assertLess(self.beyond(n, q + 1), 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(44), 79)

    def test_never_below_median(self):
        self.assertEqual(stats.tail_percentile(12), 50)
        self.assertEqual(stats.tail_percentile(1), 50)

    def test_tail_value(self):
        q, v = stats.tail(list(range(1, 101)))
        self.assertEqual(q, 90)
        self.assertAlmostEqual(v, 90.1)


class Percentile(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)
        self.assertEqual(stats.percentile([3, 1, 2], 0), 1)
        self.assertEqual(stats.percentile([3, 1, 2], 100), 3)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([5]), 5)
        with self.assertRaises(ValueError):
            stats.geomean([])


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_empty_and_degenerate(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(4, 4), (5, 3)]), 0)

    def test_outside_clips_to_window(self):
        # jobs (0,3) and (8,20) cover 1..3 and 8..10 of the window 1..10,
        # leaving 3..8 uncovered
        self.assertEqual(stats.outside((1, 10), [(0, 3), (8, 20)]), 5)

    def test_outside_concurrent_jobs_count_once(self):
        self.assertEqual(stats.outside((0, 10), [(2, 6), (3, 5), (4, 8)]), 4)


class SelfTimes(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 10},
            {"id": 1, "parent": 0, "start": 1, "end": 4},
            {"id": 2, "parent": 0, "start": 3, "end": 6},
            {"id": 3, "parent": 1, "start": 2, "end": 3},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 5)   # children cover 1..6
        self.assertEqual(st[1], 2)   # grandchild is not a child of 0
        self.assertEqual(st[2], 3)
        self.assertEqual(st[3], 1)


if __name__ == "__main__":
    unittest.main()
