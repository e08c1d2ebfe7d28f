"""Arithmetic of perfbench/spread.py.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import spread  # noqa: E402


class SpreadTest(unittest.TestCase):
    def test_iqr_share_uses_statistics_quartiles(self):
        vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        med, iqr = spread.spread(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        self.assertEqual(med, statistics.median(vals))
        self.assertAlmostEqual(iqr, (q3 - q1) / med)

    def test_bimodal_flags_a_fast_mode(self):
        self.assertTrue(spread.bimodal([2.4, 17.0, 17.1, 16.9, 17.2]))
        self.assertFalse(spread.bimodal([9.0, 10.0, 11.0]))

    def test_seed_specs(self):
        self.assertEqual(spread.seeds_of("1-4"), [1, 2, 3, 4])
        self.assertEqual(spread.seeds_of("3,5"), [3, 5])

    def test_report_checks_a_third_of_the_bound(self):
        runs = [{"metrics": {"round_p50_s": {"value": v}, "setup_s": {"value": s}}}
                for v, s in [(10.0, 5.0), (10.2, 9.0), (9.9, 2.0), (10.1, 5.5)]]
        rows = {r[0]: r for r in spread.report(runs, {"round_p50_s": 0.2, "setup_s": 0.25})}
        self.assertIn("ok", rows["round_p50_s"][5])
        # set-up is held to its bound like every other metric
        self.assertIn("WIDE", rows["setup_s"][5])
        self.assertIn("BIMODAL", rows["setup_s"][5])


if __name__ == "__main__":
    unittest.main()
