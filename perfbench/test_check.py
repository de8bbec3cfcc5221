"""Tests that the benchmark's checker rejects bad output.

Run: python3 perfbench/test_check.py
"""
import datetime
import decimal
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402

COLS = ["k", "price", "when"]
ROWS = [[1, 10.25, "ts:1995-03-01 00:00:00.000000"],
        [2, 0.1 + 0.2, "ts:1996-01-02 00:00:00.000000"],
        [3, 7.0, None]]
# the same result as DuckDB hands it back: other column order, other
# row order, native Python types
DUCK = (["when", "k", "price"],
        [(None, 3, 7.0),
         (datetime.datetime(1996, 1, 2), 2, 0.30000000000000004),
         (datetime.datetime(1995, 3, 1), 1, 10.25)])


class CompareTest(unittest.TestCase):
    def test_equal_results_pass(self):
        self.assertEqual(check.compare("q", (COLS, ROWS), DUCK), [])

    def test_one_changed_value_fails(self):
        rows = [list(r) for r in ROWS]
        rows[1][1] = math.nextafter(rows[1][1], 1.0)  # one ulp off
        self.assertTrue(check.compare("q", (COLS, rows), DUCK))

    def test_one_dropped_row_fails(self):
        self.assertTrue(check.compare("q", (COLS, ROWS[:2]), DUCK))

    def test_renamed_column_fails(self):
        self.assertTrue(check.compare("q", (["k", "price", "ts"], ROWS), DUCK))

    def test_decimal_and_int_values_compare_exactly(self):
        got = (["a"], [["decimal:1.50"], [4]])
        self.assertEqual(check.compare("q", got, (["a"], [(4.0,), (decimal.Decimal("1.5"),)])), [])
        self.assertTrue(check.compare("q", got, (["a"], [(4.0,), (1.5000001,)])))


class RerunTest(unittest.TestCase):
    """The corpus check compares each rerun stage output with the cold
    one, read back from the parquet the pipeline wrote."""

    def write(self, d, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(d)
        pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                                 "score": [r[1] for r in rows]}),
                       os.path.join(d, "part-0.parquet"))

    def test_rerun_that_differs_from_cold_fails(self):
        import duckdb
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as tmp:
            rows = [(1, 0.5), (2, 0.25), (3, 0.125)]
            self.write(f"{tmp}/cold", rows)
            self.write(f"{tmp}/same", list(reversed(rows)))
            self.write(f"{tmp}/changed", [(1, 0.5), (2, 0.25), (3, 0.126)])
            self.write(f"{tmp}/short", rows[:2])
            cold = check.parquet_rows(con, f"{tmp}/cold")
            self.assertEqual(check.compare("s", check.parquet_rows(con, f"{tmp}/same"), cold), [])
            self.assertTrue(check.compare("s", check.parquet_rows(con, f"{tmp}/changed"), cold))
            self.assertTrue(check.compare("s", check.parquet_rows(con, f"{tmp}/short"), cold))


class JaccardTest(unittest.TestCase):
    def test_near_duplicate_scores_high(self):
        base = " ".join(f"w{i}" for i in range(40))
        self.assertGreaterEqual(check.jaccard(base, base + " dup"), 0.8)
        self.assertLess(check.jaccard(base, " ".join(f"v{i}" for i in range(40))), 0.8)


if __name__ == "__main__":
    unittest.main()
