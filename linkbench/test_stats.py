"""Tests of the benchmark's pure Python logic.

    python3 -m unittest discover -s linkbench -p 'test_*.py'
"""
import random
import statistics
import unittest

import stats
import spread
import run


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        r = random.Random(7)
        for n in range(2, 30):
            xs = [r.uniform(0, 10) for _ in range(n)]
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            self.assertEqual(stats.quartiles(xs), (q1, q2, q3))

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)
        self.assertEqual(stats.spread([3.0, 3.0, 3.0]), 0.0)


class VerdictTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_clear_gain_on_time(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1)["verdict"], "gain")

    def test_gain_on_throughput_needs_higher(self):
        change = [x + 1.0 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "higher", 0.1)["verdict"], "gain")
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.05)["verdict"],
                         "regression")

    def test_eight_of_ten_wins_is_no_gain(self):
        change = [x - 1.0 for x in self.parent]
        change[0] = self.parent[0] + 0.5
        change[1] = self.parent[1]  # a tie counts for neither side
        row = stats.verdict(self.parent, change, "lower", 0.2)
        self.assertEqual(row["wins"], 8)
        self.assertEqual(row["verdict"], "no change")

    def test_win_within_parent_iqr_is_no_gain(self):
        change = [x - 0.01 for x in self.parent]
        row = stats.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(row["wins"], 10)
        self.assertEqual(row["verdict"], "no change")

    def test_regression_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1)["verdict"],
                         "regression")

    def test_wide_spread_is_unresolved(self):
        wide = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
        change = [x + 0.1 for x in wide]
        self.assertEqual(stats.verdict(wide, change, "lower", 0.1)["verdict"], "unresolved")


class HelperTest(unittest.TestCase):
    def test_seed_range(self):
        self.assertEqual(spread.seed_range("3-6"), [3, 4, 5, 6])
        self.assertEqual(spread.seed_range("4"), [4])

    def test_result_line_keeps_exactly_the_configured_metrics(self):
        record = {"correct": True, "attempted": 5, "failed": 0,
                  "metrics": {"a": {"value": 1.0, "unit": "s"},
                              "b": {"value": 2.0, "unit": "s"}}}
        line, missing = run.result_line(record, ["a"])
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(line["metrics"], {"a": {"value": 1.0, "unit": "s"}})
        self.assertEqual(missing, [])
        line, missing = run.result_line(record, ["a", "c"])
        self.assertEqual(missing, ["c"])
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)


if __name__ == "__main__":
    unittest.main()
