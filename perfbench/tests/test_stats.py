"""Tests for the benchmark's own arithmetic. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import stats  # noqa: E402


def span(i, parent, a, b):
    return {"id": i, "parent": parent, "start_s": a, "end_s": b}


class OrderStatistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles(xs), (2.75, 5.5, 8.25))

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([7.0]), (7.0, 7.0, 7.0))


class TailPercentile(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))

    def test_twenty_samples_give_the_median(self):
        xs = list(range(1, 21))
        self.assertEqual(stats.tail_percentile(xs), (50.0, 10))

    def test_hundred_samples_give_p90(self):
        # 10 samples lie above p90 of 100; only 5 above p95
        xs = list(range(1, 101))
        self.assertEqual(stats.tail_percentile(xs), (90.0, 90))

    def test_thousand_samples_give_p99(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.tail_percentile(xs), (99.0, 990))

    def test_nearest_rank(self):
        self.assertEqual(stats.nearest_rank([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.nearest_rank([5, 1, 4, 2, 3], 100), 5)
        self.assertEqual(stats.nearest_rank([5, 1, 4, 2, 3], 1), 1)


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, 1.0, 3.5)]), {0: 2.5})

    def test_nested_children_are_subtracted_per_level(self):
        got = stats.self_times([span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 5.0),
                                span(2, 1, 2.0, 3.0)])
        self.assertEqual(got, {0: 6.0, 1: 3.0, 2: 1.0})

    def test_overlapping_children_count_once(self):
        got = stats.self_times([span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 4.0),
                                span(2, 0, 3.0, 6.0), span(3, 0, 8.0, 9.0)])
        self.assertEqual(got[0], 10.0 - 5.0 - 1.0)

    def test_children_are_clipped_to_the_parent(self):
        got = stats.self_times([span(0, -1, 2.0, 6.0), span(1, 0, 1.0, 3.0),
                                span(2, 0, 5.0, 8.0)])
        self.assertEqual(got[0], 2.0)

    def test_sequential_self_times_sum_to_the_root(self):
        # one thread: siblings follow each other, so self times partition the root
        spans = [span(0, -1, 0.0, 4.0), span(1, 0, 0.5, 1.0), span(2, 0, 1.0, 3.0),
                 span(3, 2, 1.5, 2.5)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 4.0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)


class Names(unittest.TestCase):
    def test_valid_names(self):
        for n in ("wall_s", "causal.moments.tasks", "query.q03_lagged_projection_s",
                  "generate.rows_generated_per_row_written", "a-b", "9x"):
            self.assertTrue(stats.valid_name(n), n)

    def test_invalid_names(self):
        for n in ("", "_x", ".x", "a b", "a/b", "é", "x" * 65):
            self.assertFalse(stats.valid_name(n), n)


class Ratios(unittest.TestCase):
    def test_ratio_keeps_its_base(self):
        self.assertEqual(stats.ratio(3, 4), {"value": 0.75, "num": 3, "den": 4})

    def test_zero_base_has_no_value(self):
        self.assertEqual(stats.ratio(3, 0), {"value": None, "num": 3, "den": 0})


if __name__ == "__main__":
    unittest.main()
