#!/usr/bin/env python3
"""Tests for compare.py's per-query verdicts and both runners' pass rule.

In-memory DuckDB, no Spark: the Spark side is a parquet file written by
DuckDB, the oracle side a VALUES query.

Run: python3 scripts/test_compare.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from compare import compare_query, connect  # noqa: E402

ORACLE = "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (2, 'b')) t(id, s)"


def write_spark(out, name, sql):
    """Write sql's rows as Spark's output for query `name` under out."""
    os.makedirs(f"{out}/{name}")
    duckdb.sql(f"COPY ({sql}) TO '{out}/{name}/part-0.parquet' (FORMAT parquet)")


class VerdictTest(unittest.TestCase):

    def verdict(self, spark_sql, oracle_sql=ORACLE):
        with tempfile.TemporaryDirectory() as d:
            write_spark(d, "q", spark_sql)
            return compare_query(connect(d), f"{d}/q", oracle_sql)

    def test_permuted_rows_and_columns_match(self):
        v = self.verdict(
            "SELECT * FROM (VALUES ('b', 2), ('a', 1), ('b', 2)) t(s, id)")
        self.assertEqual(v, "OK")

    def test_row_count_differs(self):
        v = self.verdict("SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(id, s)")
        self.assertEqual(v, "ROWS_MISMATCH spark=2 oracle=3")

    def test_column_names_differ(self):
        v = self.verdict(
            "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (2, 'b')) t(id, x)")
        self.assertEqual(
            v, "COLS_MISMATCH spark=['id', 'x'] oracle=['id', 's']")

    def test_values_differ_with_the_diff_count(self):
        # one duplicate changed: multiset difference is one row each way
        v = self.verdict(
            "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(id, s)")
        self.assertTrue(v.startswith("VALUES_MISMATCH 2 differing rows"), v)
        self.assertIn("spark_only=[(3, 'c')]", v)
        self.assertIn("oracle_only=[(2, 'b')]", v)

    def test_type_only_difference_is_ok_with_a_note(self):
        v = self.verdict("SELECT CAST(id AS BIGINT) AS id, s FROM (" +
                         ORACLE + ")")
        self.assertEqual(
            v, "OK [SCHEMA: spark=['BIGINT', 'VARCHAR'] "
               "oracle=['INTEGER', 'VARCHAR']]")

    def test_missing_output_dir(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(compare_query(connect(d), f"{d}/q", ORACLE),
                             "SPARK_FAILED (no output dir)")


class RunnerPassRuleTest(unittest.TestCase):
    """compare.py and compare_timeout.py pass and fail the same verdicts."""

    def test_both_runners_pass_a_schema_note_and_fail_a_mismatch(self):
        with tempfile.TemporaryDirectory() as d:
            write_spark(d, "noted", "SELECT CAST(id AS BIGINT) AS id, s FROM (" +
                        ORACLE + ")")
            write_spark(d, "wrong", "SELECT 9 AS id, 'z' AS s")
            with open(f"{d}/oracle_sql.json", "w") as f:
                json.dump({"noted": ORACLE, "wrong": ORACLE}, f)
            runs = [
                [sys.executable, f"{HERE}/compare.py", d, d],
                [sys.executable, f"{HERE}/compare_timeout.py", d, d, "60", "2"],
            ]
            for cmd in runs:
                r = subprocess.run(cmd, capture_output=True, text=True,
                                   env={**os.environ, "SKIP_SBT": "1"})
                lines = r.stdout.strip().splitlines()
                self.assertTrue(any(l.startswith("PASS noted: OK [SCHEMA")
                                    for l in lines), r.stdout + r.stderr)
                self.assertTrue(any(l.startswith("FAIL wrong: ROWS_MISMATCH")
                                    for l in lines), r.stdout + r.stderr)
                self.assertEqual(lines[-1], f"1/2 queries match at {d}")
                self.assertNotEqual(r.returncode, 0)


if __name__ == "__main__":
    unittest.main()
