"""Self-tests of the benchmark's own rules and generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout; the filing-corpus test builds the
harness first if needed (see run.py).
"""
import filecmp
import os
import subprocess
import tempfile
import unittest

import gen_tables
import metrics
import run


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in range(11, 200):
            xs = list(range(n))
            value, p, count = metrics.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, n)
            # the next whole percentile would leave fewer than ten beyond it
            nxt = xs[max(1, -(-(p + 1) * n // 100)) - 1]
            self.assertLess(sum(1 for x in xs if x > nxt), 10, n)

    def test_thirty_samples(self):
        self.assertEqual(metrics.tail([float(i) for i in range(1, 31)]), (20.0, 66, 30))

    def test_ten_or_fewer_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0, 0))


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            [1, 0, "op:x", 0.0, 100.0],
            [2, 1, "a", 10.0, 30.0],
            [3, 1, "b", 25.0, 60.0],   # overlaps a
            [4, 2, "a.inner", 12.0, 20.0],
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 50.0)   # 100 minus the union [10, 60]
        self.assertEqual(st[2], 12.0)   # 20 minus its child's 8
        self.assertEqual(st[3], 35.0)
        self.assertEqual(st[4], 8.0)

    def test_child_outside_parent_is_clipped(self):
        st = metrics.self_times([[1, 0, "op:x", 0.0, 10.0], [2, 1, "a", 5.0, 20.0]])
        self.assertEqual(st[1], 5.0)


class DriverOnly(unittest.TestCase):
    def test_synthetic_task_timeline(self):
        tasks = [(10, 20), (15, 30), (50, 60), (95, 120), (-5, -1)]
        # tasks cover [10,30] + [50,60] + [95,100] = 35 of the op's 100 ms
        self.assertEqual(metrics.driver_only_ms(0, 100, tasks), 65)

    def test_no_tasks(self):
        self.assertEqual(metrics.driver_only_ms(0, 40, []), 40)


class Generators(unittest.TestCase):
    def test_tables_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen_tables.generate(a, 0.001, 7)
            gen_tables.generate(b, 0.001, 7)
            gen_tables.generate(c, 0.001, 8)
            names = [t + ".parquet" for t in gen_tables.TABLES]
            self.assertEqual(filecmp.cmpfiles(a, b, names, shallow=False)[0], names)
            self.assertIn("lineitem.parquet", filecmp.cmpfiles(a, c, names, shallow=False)[1])

    def test_filing_corpus_same_seed_same_bytes(self):
        cp = run.build()
        with tempfile.TemporaryDirectory() as d:
            def corpus(seed, name):
                out = os.path.join(d, name)
                subprocess.run(["java", *run.JAVA_OPENS, "-cp", cp,
                                "org.apache.spark.perfbench.GenCorpus", str(seed), out],
                               check=True)
                return out, sorted(os.listdir(out))
            a, fa = corpus(5, "a")
            b, fb = corpus(5, "b")
            c, fc = corpus(6, "c")
            self.assertEqual(fa, fb)
            self.assertTrue(fa and all(f.endswith((".xlsx", ".pdf")) for f in fa))
            self.assertEqual(filecmp.cmpfiles(a, b, fa, shallow=False)[0], fa)
            same = filecmp.cmpfiles(a, c, sorted(set(fa) & set(fc)), shallow=False)[0]
            self.assertTrue(fa != fc or len(same) < len(fa))


if __name__ == "__main__":
    unittest.main()
