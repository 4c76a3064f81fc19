"""Unit tests for ab_bench.py's summary on fixed numbers.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ab_bench  # noqa: E402

METRICS = [("warm_pass_s", "lower", 0.25), ("ok_frac", "higher", 0.01)]


def pairs(parent, change, ok=(1.0, 1.0)):
    return [({"warm_pass_s": p, "ok_frac": ok[0]}, {"warm_pass_s": c, "ok_frac": ok[1]})
            for p, c in zip(parent, change)]


PARENT = [1.00, 1.02, 1.04, 1.06, 1.08, 1.10, 1.12, 1.14, 1.16, 1.18]


class AbBenchTest(unittest.TestCase):
    def test_quartiles(self):
        self.assertEqual(ab_bench.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(ab_bench.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_gain_holds(self):
        # the change wins every pair, and its median 0.99 is 0.10 below the
        # parent's 1.09, more than the parent's IQR 1.1350 - 1.0450 = 0.09
        change = [x - 0.10 for x in PARENT]
        s = ab_bench.summarize(pairs(PARENT, change), METRICS)[0]
        self.assertEqual(s["n"], 10)
        self.assertEqual(s["wins"], 10)
        self.assertAlmostEqual(s["parent"][1], 1.09)
        self.assertAlmostEqual(s["iqr"], 0.09)
        self.assertAlmostEqual(s["diff"], -0.10)
        self.assertTrue(s["gain"])
        self.assertFalse(s["beyond_bound"])

    def test_gain_needs_a_gap_beyond_the_iqr(self):
        # 10/10 wins, but the medians differ by 0.05 < IQR 0.09
        change = [x - 0.05 for x in PARENT]
        s = ab_bench.summarize(pairs(PARENT, change), METRICS)[0]
        self.assertEqual(s["wins"], 10)
        self.assertFalse(s["gain"])

    def test_gain_needs_nine_of_ten_wins(self):
        # 8/10 wins: two pairs where the change is slower, though the
        # medians are 0.2 apart
        change = [x - 0.2 for x in PARENT[:8]] + [x + 0.01 for x in PARENT[8:]]
        s = ab_bench.summarize(pairs(PARENT, change), METRICS)[0]
        self.assertEqual(s["wins"], 8)
        self.assertFalse(s["gain"])
        change[8] = PARENT[8] - 0.2
        s = ab_bench.summarize(pairs(PARENT, change), METRICS)[0]
        self.assertEqual(s["wins"], 9)
        self.assertTrue(s["gain"])

    def test_bound_and_higher_is_better(self):
        # 30% slower is beyond the 0.25 bound; ok_frac 1.0 -> 0.95 is a 5%
        # loss, beyond its 0.01 bound, and a tie wins nothing
        change = [x * 1.3 for x in PARENT]
        warm, ok = ab_bench.summarize(pairs(PARENT, change, ok=(1.0, 0.95)), METRICS)
        self.assertTrue(warm["beyond_bound"])
        self.assertEqual(warm["wins"], 0)
        self.assertTrue(ok["beyond_bound"])
        self.assertFalse(ok["gain"])
        same = ab_bench.summarize(pairs(PARENT, PARENT), METRICS)
        self.assertEqual([s["wins"] for s in same], [0, 0])
        self.assertFalse(any(s["beyond_bound"] or s["gain"] for s in same))

    def test_render(self):
        change = [x - 0.10 for x in PARENT]
        out = ab_bench.render(ab_bench.summarize(pairs(PARENT, change), METRICS)).splitlines()
        self.assertEqual(out[1], "%-20s %-7s %10.4f %10.4f %10.4f" % (
            "warm_pass_s", "parent", 1.045, 1.09, 1.135))
        self.assertEqual(out[2], "%-20s %-7s %10.4f %10.4f %10.4f" % (
            "", "change", 0.945, 0.99, 1.035))
        self.assertEqual(out[3], "  lower better; change won 10/10 pairs; median -0.1000 "
                                 "(-9.2%), parent IQR 0.0900; gain rule holds; within bound")
        self.assertEqual(ab_bench.render(ab_bench.summarize([], METRICS)).splitlines()[1],
                         "%-20s no pair with both runs" % "warm_pass_s")


if __name__ == "__main__":
    unittest.main()
