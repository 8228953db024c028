"""Percentile, interval and self-time arithmetic of the benchmark.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(M.percentile(xs, 0), 1.0)
        self.assertEqual(M.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(M.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(M.percentile(xs, 90), 3.7)

    def test_single_value(self):
        self.assertEqual(M.percentile([7.0], 90), 7.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            M.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(M.tail_percentile(99))
        self.assertEqual(M.tail_percentile(100), 90)
        self.assertEqual(M.tail_percentile(1000), 99)
        self.assertEqual(M.tail_percentile(10000), 99.9)

    def test_quartile_spread(self):
        # statistics.quantiles (exclusive): q1 2.75, median 5.5, q3 8.25
        self.assertAlmostEqual(M.quartile_spread(list(range(1, 11))),
                               (8.25 - 2.75) / 5.5)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(M.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(M.union_length([]), 0)

    def test_clip(self):
        self.assertEqual(M.clip([(0, 5), (6, 9), (10, 12)], 4, 11),
                         [(4, 5), (6, 9), (10, 11)])

    def test_attribute_by_interval(self):
        ops = [{"t0_ms": 0, "t1_ms": 10}, {"t0_ms": 20, "t1_ms": 30}]
        self.assertEqual(M.attribute(ops, [-1, 0, 5, 15, 20, 30, 31]),
                         [None, 0, 0, None, 1, 1, None])


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}

    def test_self_time_subtracts_covered_children_once(self):
        spans = [self.span(0, -1, 0, 100),        # op
                 self.span(1, 0, 10, 40),         # layer A
                 self.span(2, 0, 30, 60),         # layer B, overlaps A
                 self.span(3, 1, 15, 25)]         # A's child
        st = M.self_times(spans)
        self.assertEqual(st[0], 100 - 50)         # children cover [10, 60]
        self.assertEqual(st[1], 30 - 10)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 10)

    def test_nested_self_times_partition_the_op(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 1, 15, 25), self.span(3, 0, 50, 90)]
        self.assertEqual(sum(M.self_times(spans).values()), 100)

    def test_children_outside_parent_are_clipped(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 5, 20)]
        self.assertEqual(M.self_times(spans)[0], 5)


if __name__ == "__main__":
    unittest.main()
