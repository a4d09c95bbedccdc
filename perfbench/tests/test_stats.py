"""Tests of the benchmark's statistics: python3 -m unittest discover -s perfbench/tests"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile(1), 50.0)
        self.assertEqual(stats.tail_percentile(19), 50.0)

    def test_tail_value_leaves_ten_samples_above(self):
        xs = list(range(1, 101))
        p, v = stats.tail(xs)
        self.assertEqual(p, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5)


class Verdict(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_gain_needs_nine_tenths_of_pairs_and_a_gap_beyond_the_spread(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1)[0], "gain")
        # Better in 8 of 10 pairs only: not a gain, but no regression either.
        change = [x - 1.0 for x in self.parent[:8]] + [x + 0.1 for x in self.parent[8:]]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1)[0], "no regression")

    def test_a_win_smaller_than_the_parent_spread_is_no_gain(self):
        change = [x - 0.01 for x in self.parent]
        v, d = stats.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual((v, d["wins"]), ("no regression", 10))

    def test_ties_count_for_neither_side(self):
        _, d = stats.verdict(self.parent, list(self.parent), "lower", 0.1)
        self.assertEqual((d["wins"], d["losses"], d["ties"]), (0, 0, 10))

    def test_regression_beyond_the_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1)[0], "regression")
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.25)[0], "no regression")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        noisy = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
        change = [x * 1.01 for x in noisy]
        self.assertEqual(stats.verdict(noisy, change, "lower", 0.1)[0], "unresolved")

    def test_every_change_run_better_resolves_a_noisy_metric(self):
        noisy = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
        # Beaten in every run but by less than the parent's quartile
        # distance: resolved as no regression, yet not a gain.
        change = [4.9] * 9 + [4.8]
        self.assertEqual(stats.verdict(noisy, change, "lower", 0.1)[0], "no regression")
        change = [4.0, 4.9, 4.0, 4.9, 4.0, 4.9, 4.0, 4.9, 16.0, 4.0]
        self.assertEqual(stats.verdict(noisy, change, "lower", 0.1)[0], "unresolved")

    def test_higher_is_better(self):
        change = [x + 2.0 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "higher", 0.1)[0], "gain")
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "higher", 0.1)[0], "regression")


if __name__ == "__main__":
    unittest.main()
