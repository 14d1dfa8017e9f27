"""Tests of compare.py's verdict rules.  python3 perfbench/test_compare.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402


class Verdict(unittest.TestCase):
    parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_same_code_is_same(self):
        change = [101, 100, 100, 99, 101, 99, 100, 100, 100, 101]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)[0], "same")

    def test_gain_needs_nine_tenths_of_pairs(self):
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1),
                         ("improved", 0, 10))
        mixed = change[:8] + [200, 200]
        self.assertNotEqual(compare.verdict(self.parent, mixed, "lower", 0.5)[0], "improved")

    def test_regression_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)[0], "regressed")
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.25)[0], "same")

    def test_higher_is_better_flips_direction(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1)[0], "improved")
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1)[0], "regressed")

    def test_wide_spread_is_unresolved(self):
        noisy = [60, 140, 70, 130, 80, 120, 90, 110, 100, 100]
        change = [x * 1.05 for x in noisy]
        self.assertEqual(compare.verdict(noisy, change, "lower", 0.1)[0], "unresolved")

    def test_ties_count_for_neither(self):
        self.assertEqual(compare.verdict([10, 10, 10], [10, 10, 10], "lower", 0.1), ("same", 0, 0))

    def test_summary_uses_python_quartiles(self):
        med, q1, q3, spread = compare.summary([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((med, q1, q3), (5.5, 2.75, 8.25))
        self.assertAlmostEqual(spread, 1.0)


if __name__ == "__main__":
    unittest.main()
