"""Tests of the benchmark's output checks (perfbench/run.py) against
fact tables with a known defect.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class TableValuesTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(dir=os.path.dirname(os.path.abspath(__file__)))
        self.rows = gen.month_rows("chile", 2023, 5, 3000, 1.0, 1)
        self.want = gen.table_truth("chile", self.rows)
        self.con = duckdb.connect()

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.tmp)

    def check(self, rows):
        gen.write_history(self.tmp, "chile", rows, "part.parquet")
        return run._table_values(self.con, f"read_parquet('{self.tmp}/*.parquet')", "chile", self.want)

    def test_the_generated_rows_pass(self):
        self.assertEqual(self.check(self.rows), [])

    def test_a_repeat_kept_instead_of_the_first_shows(self):
        rows = [dict(r) for r in self.rows]
        rows[10]["generation_mwh"] += 1.0  # the generator's in-file repeat
        self.assertEqual(len(self.check(rows)), 1)

    def test_a_dropped_key_part_shows(self):
        rows = [dict(r) for r in self.rows]
        rows[0]["chile_plant_id"] = None  # a legacy plant_id not coerced
        self.assertIn("chile_plant_id", self.check(rows)[0])

    def test_a_shifted_timestamp_shows(self):
        rows = [dict(r) for r in self.rows]
        rows[0]["timestamp_ms"] -= 1000  # a date read as milliseconds, say
        self.assertIn("time range", self.check(rows)[0])


if __name__ == "__main__":
    unittest.main()
