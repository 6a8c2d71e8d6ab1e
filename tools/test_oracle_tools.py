"""Tests for the oracle tools diff_verify.py and check_oracle.py.

Run: python3 tools/test_oracle_tools.py

Each case builds small Verify-shaped dumps (<dir>/<entry>/*.parquet plus
oracle_sql.json) in a temp dir with DuckDB and runs the tool as a script,
checking its exit code and the line that names the difference.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, TOOLS)

from check_oracle import TABLES  # noqa: E402

ROWS = "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.5), (3, 'c', 2.5)) t(k, s, v)"
SQL = "SELECT k, s, v\nFROM events\nORDER BY k"


def run(tool, *args):
    p = subprocess.run([sys.executable, os.path.join(TOOLS, tool), *args],
                       capture_output=True, text=True)
    return p.returncode, p.stdout


class Dumps(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def path(self, *parts):
        return os.path.join(self.tmp.name, *parts)

    def dump(self, name, entries, oracles):
        """A Verify dump `name`: entry -> SELECT of its rows, and the
        oracle_sql.json map."""
        d = self.path(name)
        os.makedirs(d)
        for entry, select in entries.items():
            os.makedirs(os.path.join(d, entry))
            self.con.execute(f"COPY ({select}) TO '{d}/{entry}/part-0.parquet'")
        with open(os.path.join(d, "oracle_sql.json"), "w") as f:
            json.dump(oracles, f)
        return d


class DiffVerify(Dumps):
    def diff(self, a_entries, b_entries, a_sql=None, b_sql=None):
        a = self.dump("a", a_entries, a_sql or {n: SQL for n in a_entries})
        b = self.dump("b", b_entries, b_sql or {n: SQL for n in b_entries})
        return run("diff_verify.py", a, b)

    def test_reordered_rows_compare_equal(self):
        code, out = self.diff({"e1": ROWS + " ORDER BY k"},
                              {"e1": ROWS + " ORDER BY k DESC"})
        self.assertEqual(code, 0, out)
        self.assertIn("0 difference(s)", out)

    def test_whitespace_only_sql_difference_compares_equal(self):
        code, out = self.diff({"e1": ROWS}, {"e1": ROWS},
                              {"e1": SQL}, {"e1": "  " + SQL.replace("\n", "\n\t  ") + "\n"})
        self.assertEqual(code, 0, out)

    def test_changed_value_fails_naming_the_entry(self):
        code, out = self.diff({"e1": ROWS, "e2": ROWS},
                              {"e1": ROWS, "e2": ROWS.replace("2.5", "3.5")})
        self.assertEqual(code, 1, out)
        self.assertTrue(any(l.startswith("DIFF e2:") for l in out.splitlines()), out)
        self.assertFalse(any(l.startswith("DIFF e1") for l in out.splitlines()), out)

    def test_entry_in_one_dump_only_fails_naming_it(self):
        code, out = self.diff({"e1": ROWS, "e2": ROWS}, {"e1": ROWS},
                              {"e1": SQL}, {"e1": SQL})
        self.assertEqual(code, 1, out)
        self.assertTrue(any(l.startswith("DIFF e2: output only in")
                            for l in out.splitlines()), out)

    def test_non_whitespace_sql_change_fails_naming_it(self):
        code, out = self.diff({"e1": ROWS}, {"e1": ROWS},
                              {"e1": SQL}, {"e1": SQL.replace("ORDER BY k", "ORDER BY s")})
        self.assertEqual(code, 1, out)
        self.assertIn("DIFF oracle_sql.json: e1 SQL differs", out.splitlines())


class CheckOracle(Dumps):
    def check(self, spark_rows):
        sf = self.path("sf")
        os.makedirs(sf)
        for t in TABLES:
            select = ROWS if t == "events" else "SELECT 1 AS x"
            self.con.execute(f"COPY ({select}) TO '{sf}/{t}.parquet'")
        out = self.dump("out", {"e1": spark_rows}, {"e1": SQL})
        return run("check_oracle.py", sf, out)

    def test_reordered_rows_compare_equal(self):
        code, out = self.check(ROWS + " ORDER BY k DESC")
        self.assertEqual(code, 0, out)
        self.assertIn("PASS e1 (3 rows)", out.splitlines())

    def test_changed_value_fails_naming_the_entry(self):
        code, out = self.check(ROWS.replace("'b'", "'B'"))
        self.assertEqual(code, 1, out)
        self.assertTrue(any(l.startswith("FAIL e1:") for l in out.splitlines()), out)


if __name__ == "__main__":
    unittest.main()
