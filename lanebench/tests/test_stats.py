"""Tests for the lane benchmark's statistics.

Run from the benchmark directory: python3 -m unittest discover -s tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2.0)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class PercentileRuleTest(unittest.TestCase):
    def test_p99_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(999)), 99))
        self.assertEqual(stats.percentile(list(range(1, 1001)), 99), 990.0)

    def test_p50_of_small_sets(self):
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10.0)

    def test_order_does_not_matter(self):
        vals = list(range(2000))
        self.assertEqual(stats.percentile(vals, 99),
                         stats.percentile(list(reversed(vals)), 99))

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))


class RecallTest(unittest.TestCase):
    planted = [(1, 2, 1.0), (3, 4, 0.8), (5, 6, 0.55), (7, 8, 0.3)]

    def test_only_pairs_at_threshold_count(self):
        self.assertEqual(stats.recall([(2, 1), (4, 3), (6, 5)], self.planted, 0.5), 1.0)

    def test_missing_and_extra_pairs(self):
        found = [(1, 2), (8, 7), (9, 10)]
        self.assertAlmostEqual(stats.recall(found, self.planted, 0.5), 1 / 3)

    def test_no_eligible_pair_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.recall([], [(1, 2, 0.1)], 0.5)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "name": "scan", "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "name": "scan", "start": 3.0, "end": 5.0},
            {"id": 4, "parent": 2, "name": "leaf", "start": 1.5, "end": 2.0},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 6.0)
        self.assertAlmostEqual(st[2], 2.5)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[4], 0.5)
        by_name = stats.self_time_by_name(spans)
        self.assertAlmostEqual(by_name["scan"], 4.5)

    def test_child_outside_parent_is_clipped(self):
        spans = [
            {"id": 1, "parent": None, "name": "a", "start": 0.0, "end": 2.0},
            {"id": 2, "parent": 1, "name": "b", "start": 1.0, "end": 5.0},
        ]
        self.assertAlmostEqual(stats.self_times(spans)[1], 1.0)


class FreshnessTest(unittest.TestCase):
    def test_records_wait_between_one_and_two_units(self):
        lat = stats.freshness_ms([2.0, 4.0], per_unit=4)
        self.assertEqual(len(lat), 8)
        self.assertAlmostEqual(min(lat), 2000 * (2 - 0.875))
        self.assertAlmostEqual(max(lat), 4000 * (2 - 0.125))
        self.assertAlmostEqual(stats.median(stats.freshness_ms([3.0])), 4500.0)


class SpreadTest(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        vals = [10, 10, 10, 10, 10, 10, 10, 10, 10, 10]
        self.assertEqual(stats.spread(vals), 0.0)
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)


class ResultHashTest(unittest.TestCase):
    """The oracle side's canonical form; BatchLane.canon is its twin."""

    def test_canonical_values(self):
        self.assertEqual(run.canon(None), "N")
        self.assertEqual(run.canon(25500), "i:25500")
        self.assertEqual(run.canon(12.5), "d:12.5")
        self.assertEqual(run.canon(1e7), "d:10000000")
        self.assertTrue(run.canon(0.1).startswith("d:0.1000000000000000055511"))
        self.assertEqual(run.canon("x"), "s:x")

    def test_hash_ignores_row_and_column_order(self):
        a = run.result_hash(["b", "a"], [(1, "x"), (2, "y")])
        b = run.result_hash(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, run.result_hash(["a", "b"], [("y", 2), ("x", 3)]))


if __name__ == "__main__":
    unittest.main()
