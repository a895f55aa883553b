"""Tests for the benchmark's own statistics.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail_percentile(list(range(99)))[0], 75.0)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail_percentile(list(range(10000)))[0], 99.9)

    def test_too_few_samples_for_any_tail(self):
        self.assertIsNone(stats.tail_percentile(list(range(39))))
        self.assertEqual(stats.tail_percentile(list(range(40)))[0], 75.0)

    def test_value_interpolates(self):
        p, v = stats.tail_percentile([float(x) for x in range(101)])
        self.assertEqual((p, v), (90.0, 90.0))
        self.assertEqual(stats.percentile([1.0, 2.0], 50), 1.5)


class UnionTest(unittest.TestCase):
    def test_overlapping_and_disjoint_intervals(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching_intervals(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_empty_and_degenerate(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_clipped_to_a_window(self):
        self.assertEqual(stats.clipped([(0, 10), (12, 20), (30, 40)], 5, 15),
                         [(5, 10), (12, 15)])


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "op": 1}

    def test_nested_spans(self):
        spans = [
            self.span(1, 0, 0, 100),
            self.span(2, 1, 10, 40),   # child of 1
            self.span(3, 2, 15, 25),   # grandchild: counts against 2, not 1
            self.span(4, 1, 50, 70),   # second child of 1
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 30 - 20)
        self.assertEqual(st[2], 30 - 10)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[4], 20)

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 60),
                 self.span(3, 1, 40, 80)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 70)


if __name__ == "__main__":
    unittest.main()
