"""Tests of the benchmark's statistics: python3 -m unittest discover perfbench"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(value, 90)
        self.assertAlmostEqual(pct, 89.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 12, 11, 0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(sum(1 for x in xs if x > stats.tail(xs)[0]), 10)

    def test_too_few_samples_falls_back_to_median(self):
        self.assertEqual(stats.tail([3, 1, 2]), (2, 50.0, 3))
        self.assertEqual(stats.tail(list(range(10)))[1], 50.0)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [1.0, 4.0, 2.0, 8.0, 5.0, 7.0, 3.0, 6.0, 9.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_spread_is_share_of_median(self):
        q1, q2, q3 = statistics.quantiles([10, 11, 12, 13, 14], n=4)
        self.assertAlmostEqual(stats.spread([10, 11, 12, 13, 14]), (q3 - q1) / q2)


class PairRuleTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_pair_wins_counts_ties_for_neither(self):
        self.assertEqual(stats.pair_wins([1, 2, 3], [0, 2, 4], "lower"), (1, 1, 1))
        self.assertEqual(stats.pair_wins([1, 2, 3], [0, 2, 4], "higher"), (1, 1, 1))

    def test_improved_needs_nine_tenths_and_a_gap(self):
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "improved")
        # one lost pair in ten still meets nine tenths
        change[0] = self.parent[0] + 1
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "improved")
        # two lost pairs do not
        change[1] = self.parent[1] + 1
        self.assertNotEqual(stats.verdict(self.parent, change, "lower", 0.1), "improved")

    def test_gap_must_exceed_parent_quartile_distance(self):
        change = [x - 0.01 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "within bound")

    def test_worse_beyond_bound(self):
        change = [x * 1.3 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "worse")
        self.assertEqual(stats.verdict(self.parent, change, "higher", 0.1), "improved")

    def test_unresolved_when_parent_spread_exceeds_bound(self):
        noisy = [5, 15, 8, 12, 10, 6, 14, 9, 11, 10]
        self.assertEqual(stats.verdict(noisy, noisy[::-1], "lower", 0.1), "unresolved")


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_us": 0, "end_us": 10_000_000},
            {"id": 2, "parent": 1, "start_us": 1_000_000, "end_us": 4_000_000},
            {"id": 3, "parent": 1, "start_us": 3_000_000, "end_us": 5_000_000},
            {"id": 4, "parent": 1, "start_us": 9_000_000, "end_us": 12_000_000},
        ]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t[1], 10 - 4 - 1)
        self.assertAlmostEqual(t[2], 3)
        self.assertAlmostEqual(t[4], 3)


class CountSteadinessTest(unittest.TestCase):
    # two runs as their result files hold them: pass index (a string in
    # JSON) -> op -> counts; q1's jobs differ only in the first pass
    runs = [
        {"0": {"q1": {"jobs": 31, "tasks": 8}}, "1": {"q1": {"jobs": 28, "tasks": 8}},
         "2": {"q1": {"jobs": 28, "tasks": 8}}},
        {0: {"q1": {"jobs": 31, "tasks": 8}}, 3: {"q1": {"jobs": 28, "tasks": 9}}},
    ]

    def test_first_pass_is_kept_apart(self):
        v = stats.count_values(self.runs)
        self.assertEqual(v[("q1", "jobs")], {"cold": {31}, "warm": {28}})
        self.assertEqual(v[("q1", "tasks")], {"cold": {8}, "warm": {8, 9}})
        self.assertEqual(v[("q1", "stages")], {"cold": {0}, "warm": {0}})

    def test_unsteady_lists_every_count_with_two_values(self):
        self.assertEqual(stats.unsteady(stats.count_values(self.runs)),
                         [("q1", "jobs"), ("q1", "tasks")])

    def test_steady_keeps_each_phase_that_repeats(self):
        s = stats.steady(stats.count_values(self.runs))
        self.assertEqual(s[("q1", "jobs", "cold")], 31)
        self.assertEqual(s[("q1", "jobs", "warm")], 28)
        self.assertEqual(s[("q1", "tasks", "cold")], 8)
        self.assertNotIn(("q1", "tasks", "warm"), s)


if __name__ == "__main__":
    unittest.main()
