"""Tests of the pair verdicts in abpairs.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import abpairs


class QuartilesTest(unittest.TestCase):
    def test_exclusive_method_as_in_the_benchmark_baseline(self):
        # statistics.quantiles(n=4): positions (n + 1) * k / 4, not the
        # inclusive (n - 1) * k / 4 that narrows the IQR
        self.assertEqual(abpairs.summary([5, 1, 4, 2, 3]), {"q1": 1.5, "median": 3, "q3": 4.5})
        s = abpairs.summary([1, 2, 3, 4])
        self.assertAlmostEqual(s["q1"], 1.25)
        self.assertAlmostEqual(s["median"], 2.5)
        self.assertAlmostEqual(s["q3"], 3.75)
        s = abpairs.summary(list(range(1, 11)))
        self.assertAlmostEqual(s["q3"] - s["q1"], 8.25 - 2.75)
        self.assertEqual(abpairs.summary([7]), {"q1": 7, "median": 7, "q3": 7})

    def test_seed_ranges(self):
        self.assertEqual(abpairs.parse_seeds(["301-303", "9,11"]), [301, 302, 303, 9, 11])


class ClaimTest(unittest.TestCase):
    parent = [24.0, 25.0, 26.0, 24.5, 25.5, 24.2, 25.8, 24.8, 25.2, 26.5]

    def test_nine_of_ten_and_a_gap_above_the_iqr_is_met(self):
        change = [x - 5 for x in self.parent]
        change[3] = 30.0  # one lost pair
        v = abpairs.verdict(self.parent, change, True, 0.25)
        self.assertEqual(v["wins"], 9)
        self.assertEqual(v["claim"], "met")

    def test_eight_of_ten_is_not_met(self):
        change = [x - 5 for x in self.parent]
        change[3] = change[4] = 30.0
        v = abpairs.verdict(self.parent, change, True, 0.25)
        self.assertEqual(v["wins"], 8)
        self.assertEqual(v["claim"], "not met")

    def test_every_pair_won_but_gap_inside_the_iqr_is_not_met(self):
        change = [x - 0.1 for x in self.parent]
        v = abpairs.verdict(self.parent, change, True, 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertLess(v["gap"], v["parent_iqr"])
        self.assertEqual(v["claim"], "not met")

    def test_higher_is_better_direction(self):
        change = [x + 5 for x in self.parent]
        self.assertEqual(abpairs.verdict(self.parent, change, False, None)["claim"], "met")
        self.assertEqual(abpairs.verdict(self.parent, change, True, None)["claim"], "not met")

    def test_ninety_percent_rounds_up_for_other_pair_counts(self):
        parent = [10.0, 10.2, 10.4, 10.6, 10.8]
        change = [5.0, 5.0, 5.0, 5.0, 11.0]  # 4 of 5 < ceil(4.5)
        self.assertEqual(abpairs.verdict(parent, change, True, None)["claim"], "not met")


class BoundTest(unittest.TestCase):
    parent = [10.0, 10.1, 10.2, 10.3, 10.4]

    def test_inside_the_bound_is_ok(self):
        v = abpairs.verdict(self.parent, [x * 1.2 for x in self.parent], True, 0.25)
        self.assertEqual(v["bound"], "ok")

    def test_beyond_the_bound_is_worse(self):
        v = abpairs.verdict(self.parent, [x * 1.3 for x in self.parent], True, 0.25)
        self.assertEqual(v["bound"], "worse")

    def test_a_better_change_is_never_worse(self):
        v = abpairs.verdict(self.parent, [x * 0.5 for x in self.parent], True, 0.10)
        self.assertEqual(v["bound"], "ok")
        v = abpairs.verdict(self.parent, [x * 0.5 for x in self.parent], False, 0.10)
        self.assertEqual(v["bound"], "worse")

    def test_spread_beyond_the_bound_is_unresolved(self):
        change = [5.0, 8.0, 10.0, 12.0, 20.0]
        v = abpairs.verdict(self.parent, change, True, 0.25)
        self.assertEqual(v["bound"], "unresolved")

    def test_wide_spread_with_every_change_run_better_is_resolved(self):
        change = [2.0, 3.0, 5.0, 8.0, 9.0]  # spread > 0.25, yet all below 10.0
        v = abpairs.verdict(self.parent, change, True, 0.25)
        self.assertGreater(v["spread"], 0.25)
        self.assertEqual(v["bound"], "ok")
        change[-1] = 10.05  # one change run no better than the fastest parent run
        self.assertEqual(abpairs.verdict(self.parent, change, True, 0.25)["bound"],
                         "unresolved")


class ReportTest(unittest.TestCase):
    def test_report_from_a_log(self):
        runs = []
        for i in range(10):
            for side, cpu in (("parent", 25.0 + i * 0.1), ("change", 19.0 + i * 0.1)):
                runs.append({"pair": i, "seed": 300 + i, "side": side,
                             "workload": "queries_mixed", "correct": True, "failed": 0,
                             "metrics": {"cpu_s": cpu, "wall_s": 40.0}})
        with tempfile.TemporaryDirectory() as d:
            log = os.path.join(d, "runs.jsonl")
            with open(log, "w") as f:
                f.write("".join(json.dumps(r) + "\n" for r in runs))
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                abpairs.main(["--from-log", log])
        text = out.getvalue()
        self.assertIn("pairs 10", text)
        cpu = next(l for l in text.splitlines() if l.startswith("cpu_s"))
        self.assertIn("10/10", cpu)
        self.assertIn(" met", cpu)
        self.assertNotIn("not met", cpu)
        wall = next(l for l in text.splitlines() if l.startswith("wall_s"))
        self.assertIn("not met", wall)
        self.assertIn(" ok", wall)


if __name__ == "__main__":
    unittest.main()
