"""Tests of the Verify-dump comparison in dumpdiff.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

import dumpdiff


class DumpDiffTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()

    def tearDown(self):
        self.tmp.cleanup()

    def dump(self, name, results, oracle=None, errors=None, fixtures=None,
             texts=None):
        """A Verify-shaped dump: <name>/<query>/part.parquet plus
        oracle_sql.json and _errors.json, and <name>_fixtures/<table>/."""
        root = os.path.join(self.tmp.name, name)
        fix = root + "_fixtures"
        os.makedirs(root)
        for base, tables in ((root, results), (fix, fixtures or {})):
            for table, sql in tables.items():
                os.makedirs(os.path.join(base, table))
                path = os.path.join(base, table, "part-0.parquet")
                self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        for table, lines in (texts or {}).items():
            os.makedirs(os.path.join(fix, table))
            with open(os.path.join(fix, table, "part-0.txt"), "w") as f:
                f.write("\n".join(lines) + "\n")
        oracle = {k: v.replace("__FIXTURES__", fix)
                  for k, v in (oracle or {}).items()}
        with open(os.path.join(root, "oracle_sql.json"), "w") as f:
            json.dump(oracle, f)
        with open(os.path.join(root, "_errors.json"), "w") as f:
            json.dump(errors or {}, f)
        return root

    def diff(self, a, b):
        return dumpdiff.diff_dumps(a, b, self.con)[0]

    def test_row_order_and_column_order_do_not_matter(self):
        a = self.dump("a", {"q1": "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)"},
                      oracle={"q1": "SELECT * FROM read_parquet('__FIXTURES__/f/*.parquet')"},
                      fixtures={"f": "SELECT 1 AS k"}, texts={"csv_raw": ["a,b", "c,d"]})
        b = self.dump("b", {"q1": "SELECT v, k FROM (VALUES (2, 'y'), (1, 'x')) t(k, v)"},
                      oracle={"q1": "SELECT * FROM read_parquet('__FIXTURES__/f/*.parquet')"},
                      fixtures={"f": "SELECT 1 AS k"}, texts={"csv_raw": ["c,d", "a,b"]})
        self.assertEqual(self.diff(a, b), [])

    def test_scratch_root_in_oracle_sql_is_not_a_difference(self):
        a = self.dump("a", {}, oracle={"v": "SELECT * FROM '/tmp/graft_scratch_123/x/*.csv'"})
        b = self.dump("b", {}, oracle={"v": "SELECT * FROM '/tmp/graft_scratch_98765/x/*.csv'"})
        c = self.dump("c", {}, oracle={"v": "SELECT * FROM '/tmp/graft_scratch_98765/y/*.csv'"})
        self.assertEqual(self.diff(a, b), [])
        self.assertEqual(self.diff(a, c), ["oracle_sql v: SQL differs"])

    def test_multiset_duplicates_count(self):
        a = self.dump("a", {"q": "SELECT * FROM (VALUES (1), (1), (2)) t(k)"})
        b = self.dump("b", {"q": "SELECT * FROM (VALUES (1), (2), (2)) t(k)"})
        self.assertEqual(self.diff(a, b),
                         ["result q: rows 3 vs 3; 1 only in A, 1 only in B"])

    def test_type_change_is_a_difference(self):
        a = self.dump("a", {"q": "SELECT 1::BIGINT AS k"})
        b = self.dump("b", {"q": "SELECT 1::INTEGER AS k"})
        [d] = self.diff(a, b)
        self.assertTrue(d.startswith("result q: schema"), d)

    def test_missing_result_oracle_error_and_fixture(self):
        a = self.dump("a", {"q": "SELECT 1 AS k", "r": "SELECT 2 AS k"},
                      oracle={"q": "SELECT 1", "s": "SELECT 3"},
                      errors={"r": "boom"}, fixtures={"f": "SELECT 1 AS k"},
                      texts={"csv_raw": ["a"]})
        b = self.dump("b", {"q": "SELECT 1 AS k"},
                      oracle={"q": "SELECT 2"},
                      fixtures={"f": "SELECT 2 AS k"}, texts={"csv_raw": ["b"]})
        self.assertEqual(self.diff(a, b), [
            "result r: only in A",
            "oracle_sql q: SQL differs",
            "oracle_sql s: only in A",
            "_errors.json: {'r': 'boom'} != {}",
            "fixture csv_raw: text lines: 1 only in A, 1 only in B",
            "fixture f: rows 1 vs 1; 1 only in A, 1 only in B",
        ])

    def test_cli_exit_codes(self):
        a = self.dump("a", {"q": "SELECT 1 AS k"})
        b = self.dump("b", {"q": "SELECT 1 AS k"})
        c = self.dump("c", {"q": "SELECT 2 AS k"})
        tool = os.path.join(os.path.dirname(os.path.abspath(__file__)), "dumpdiff.py")
        same = subprocess.run([sys.executable, tool, a, b], capture_output=True, text=True)
        self.assertEqual(same.returncode, 0, same.stdout + same.stderr)
        self.assertIn("identical", same.stdout)
        other = subprocess.run([sys.executable, tool, a, c], capture_output=True, text=True)
        self.assertEqual(other.returncode, 1)
        self.assertIn("DIFF  result q", other.stdout)


if __name__ == "__main__":
    unittest.main()
