"""Checks of the benchmark's own arithmetic: percentiles, the tail
percentile rule, interval union and span self time.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(i, parent, a, b):
    return {"id": i, "parent": parent, "start_s": a, "end_s": b}


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [10.0, 20.0, 30.0, 40.0]
        self.assertEqual(stats.percentile(xs, 0), 10.0)
        self.assertEqual(stats.percentile(xs, 100), 40.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25.0)
        self.assertAlmostEqual(stats.percentile(xs, 75), 32.5)

    def test_order_does_not_matter_and_median_agrees(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
        self.assertAlmostEqual(stats.percentile(xs, 50), statistics.median(xs))
        self.assertEqual(stats.percentile(list(reversed(xs)), 90),
                         stats.percentile(xs, 90))

    def test_single_value(self):
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)
        self.assertEqual(stats.tail(list(range(40)))[0], 75.0)
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(10000)))[0], 99.9)

    def test_value_is_that_percentile(self):
        xs = [float(i) for i in range(200)]
        p, v = stats.tail(xs)
        self.assertEqual(v, stats.percentile(xs, p))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(stats.union_length([(0, 10), (2, 3)]), 10.0)
        self.assertEqual(stats.union_length([]), 0.0)

    def test_leaf_self_time_is_its_duration(self):
        out = stats.self_times([span(1, 0, 1.0, 3.5)])
        self.assertAlmostEqual(out[1], 2.5)

    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0.0, 10.0),
                 span(2, 1, 1.0, 4.0), span(3, 1, 3.0, 6.0),  # overlap 3..4
                 span(4, 2, 1.5, 2.0)]                          # grandchild
        out = stats.self_times(spans)
        self.assertAlmostEqual(out[1], 10.0 - 5.0)
        self.assertAlmostEqual(out[2], 3.0 - 0.5)
        self.assertAlmostEqual(out[3], 3.0)
        self.assertAlmostEqual(out[4], 0.5)

    def test_child_outside_parent_is_clipped(self):
        out = stats.self_times([span(1, 0, 0.0, 2.0), span(2, 1, 1.0, 5.0)])
        self.assertAlmostEqual(out[1], 1.0)


class OverheadTest(unittest.TestCase):
    def test_traced_over_untraced_median(self):
        def op(ms, traced):
            return {"kind": "dense", "start_s": 0.0, "end_s": ms / 1000.0,
                    "traced": traced, "ok": True, "units": 1}
        rec = {"workload": "search_mix",
               "ops": [op(110, True), op(120, True), op(100, False), op(100, False)]}
        self.assertAlmostEqual(stats.overhead(rec), 0.15)


if __name__ == "__main__":
    unittest.main()
