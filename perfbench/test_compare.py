"""Tests for compare.py: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import statistics
import unittest

import compare

METRIC = {"name": "latency_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1}


class QuartileTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, med, q3 = compare.quartiles(xs)
        self.assertEqual([q1, med, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(med, 5.5)
        self.assertAlmostEqual(compare.spread(xs), (q3 - q1) / 5.5)

    def test_single_value(self):
        self.assertEqual(compare.quartiles([3.0]), (3.0, 3.0, 3.0))
        self.assertEqual(compare.spread([3.0]), 0.0)


class VerdictTest(unittest.TestCase):
    base = [100.0, 101.0, 99.0, 100.5, 100.2]

    def test_same_is_ok(self):
        self.assertEqual(compare.verdict(self.base, [100.1, 100.3, 99.8, 100.0, 100.4], METRIC), "ok")

    def test_worse_beyond_bound(self):
        self.assertEqual(compare.verdict(self.base, [x * 1.2 for x in self.base], METRIC), "worse")

    def test_better_is_ok_in_either_direction_of_better(self):
        self.assertEqual(compare.verdict(self.base, [x * 0.8 for x in self.base], METRIC), "ok")
        higher = dict(METRIC, better="higher")
        self.assertEqual(compare.verdict(self.base, [x * 0.8 for x in self.base], higher), "worse")

    def test_wide_spread_is_unresolved_except_setup(self):
        wide = [50.0, 100.0, 150.0, 80.0, 120.0]
        self.assertEqual(compare.verdict(self.base, wide, METRIC), "unresolved")
        setup = dict(METRIC, name="setup_s", bound=0.25)
        self.assertEqual(compare.verdict(self.base, wide, setup), "ok")


if __name__ == "__main__":
    unittest.main()
