"""Tests for the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_with_counts(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 0.5), (50, 100, 50))
        self.assertEqual(stats.percentile(xs, 0.99), (99, 100, 1))
        self.assertEqual(stats.percentile(xs, 1.0), (100, 100, 0))

    def test_rank_is_a_sample_not_an_interpolation(self):
        self.assertEqual(stats.percentile([10, 20, 30, 40], 0.5)[0], 20)
        self.assertEqual(stats.percentile([3, 1, 2], 0.5)[0], 2)
        self.assertEqual(stats.percentile([7], 0.99), (7, 1, 0))

    def test_empty_and_failures_rank_last(self):
        self.assertEqual(stats.percentile([], 0.5), (None, 0, 0))
        lat = [100.0] * 98 + [math.inf] * 2
        self.assertEqual(stats.percentile(lat, 0.99)[0], math.inf)
        self.assertEqual(stats.percentile(lat, 0.98)[0], 100.0)


class WindowMedianTest(unittest.TestCase):
    def test_median_of_group_percentiles(self):
        # three groups in time order; the slow middle group moves only itself
        xs = [1, 2, 3, 4] + [100, 200, 300, 400] + [5, 6, 7, 8]
        self.assertEqual(stats.window_median(xs, 0.5, 3), (6, 12, 3))
        self.assertEqual(stats.window_median(xs, 1.0, 3), (8, 12, 3))

    def test_groups_are_contiguous_and_cover_every_sample(self):
        xs = list(range(10))  # groups [0..2], [3..5], [6..9]
        self.assertEqual(stats.window_median(xs, 1.0, 3)[0], 5)
        self.assertEqual(stats.window_median(xs, 0.5, 1), (4, 10, 1))

    def test_undelivered_counts_in_its_group_and_short_input(self):
        xs = [1.0, 1.0, math.inf, 1.0, 1.0, math.inf]
        self.assertEqual(stats.window_median(xs, 0.99, 3)[0], math.inf)
        self.assertEqual(stats.window_median([7.0], 0.5, 6), (7.0, 1, 1))
        self.assertEqual(stats.window_median([], 0.5, 6), (None, 0, 0))


class StratifiedPickTest(unittest.TestCase):
    def test_middle_of_each_equal_count_stratum(self):
        times = {f"q{i:02d}": float(i) for i in range(10)}  # q00 fastest
        self.assertEqual(stats.stratified_pick(times, 2), [("q02", 5), ("q07", 5)])
        self.assertEqual(stats.stratified_pick(times, 3), [("q01", 3), ("q04", 3), ("q07", 4)])

    def test_orders_by_time_then_name_and_sizes_cover_the_set(self):
        times = {"b": 1.0, "a": 1.0, "c": 9.0, "d": 0.5}
        picks = stats.stratified_pick(times, 2)
        self.assertEqual(picks, [("d", 2), ("b", 2)])
        self.assertEqual(sum(m for _, m in stats.stratified_pick(times, 3)), len(times))

    def test_rejects_more_strata_than_items(self):
        with self.assertRaises(ValueError):
            stats.stratified_pick({"a": 1.0}, 2)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_direct_children(self):
        spans = [
            ("batch", 0, "b1", 0, 100),
            ("phase", 1, "b1", 10, 60),
            ("sink", 4, "b1", 20, 30),   # inside phase: a child of phase, not batch
            ("sink", 4, "b1", 25, 40),   # overlaps the first sink call
            ("sink", 4, "b2", 20, 30),   # another request: no parent
        ]
        got = stats.self_times(spans, slack=0)
        self.assertEqual(got["batch"], (50, 1))
        self.assertEqual(got["phase"], (30, 1))
        self.assertEqual(got["sink"], (10 + 15 + 10, 3))

    def test_innermost_parent_wins(self):
        spans = [("a", 0, "x", 0, 100), ("b", 1, "x", 0, 50), ("c", 2, "x", 10, 20)]
        got = stats.self_times(spans, slack=0)
        self.assertEqual(got, {"a": (50, 1), "b": (40, 1), "c": (10, 1)})

    def test_slack_admits_millisecond_rounding(self):
        spans = [("job", 2, "q", 1000, 2000), ("sink", 4, "q", 999, 1500)]
        self.assertEqual(stats.self_times(spans, slack=5)["job"], (500, 1))  # child clipped to the job
        self.assertEqual(stats.self_times(spans, slack=0)["job"], (1000, 1))

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)


class FailedRatioTest(unittest.TestCase):
    def test_ratio_over_all_checks(self):
        checks = [{"attempted": 90, "failed": 0}, {"attempted": 10, "failed": 5}]
        self.assertEqual(stats.failed_ratio(checks), (0.05, 100, 5))

    def test_nothing_attempted_counts_as_failed(self):
        self.assertEqual(stats.failed_ratio([]), (1.0, 0, 0))


if __name__ == "__main__":
    unittest.main()
