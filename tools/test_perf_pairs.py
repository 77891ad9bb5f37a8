"""Checks of tools/perf_pairs.py's bound verdict.

    python3 -m unittest tools/test_perf_pairs.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perf_pairs import bound_verdict  # noqa: E402


class BoundVerdictTest(unittest.TestCase):
    TIGHT = [98, 99, 100, 101, 102]
    WIDE = [60, 80, 100, 120, 140]  # IQR / median = 0.4

    def test_worse_beyond_the_bound_is_over(self):
        self.assertEqual(bound_verdict(self.TIGHT, [130] * 5, lower=True, bound=0.25), "over")
        self.assertEqual(bound_verdict(self.TIGHT, [70] * 5, lower=False, bound=0.25), "over")

    def test_tight_parent_within_the_bound_is_ok(self):
        self.assertEqual(bound_verdict(self.TIGHT, [110] * 5, lower=True, bound=0.25), "ok")

    def test_wide_parent_is_unresolved(self):
        self.assertEqual(bound_verdict(self.WIDE, [70, 90, 100, 110, 150], lower=True,
                                       bound=0.25), "unresolved")
        self.assertEqual(bound_verdict(self.WIDE, [70, 90, 100, 110, 150], lower=False,
                                       bound=0.25), "unresolved")

    def test_wide_parent_beaten_by_every_run_is_ok(self):
        self.assertEqual(bound_verdict(self.WIDE, [50, 52, 55, 57, 59], lower=True,
                                       bound=0.25), "ok")
        self.assertEqual(bound_verdict(self.WIDE, [141, 150, 160], lower=False,
                                       bound=0.25), "ok")


if __name__ == "__main__":
    unittest.main()
