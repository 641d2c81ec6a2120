"""Tests of the benchmark's input generator (perfbench/gen.py).

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

SMALL = 2000  # lines per month: every source at its floor but ENTSOE


def digest(d):
    h = hashlib.sha256()
    for root, _, fs in sorted(os.walk(d)):
        for f in sorted(fs):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(dir=os.path.dirname(os.path.abspath(__file__)))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def etl(self, name, seed):
        d = os.path.join(self.tmp, name)
        return d, gen.etl_inputs(d, seed, SMALL, 2)

    def test_same_seed_same_bytes(self):
        a, _ = self.etl("a", 7)
        b, _ = self.etl("b", 7)
        self.assertEqual(digest(a), digest(b))
        gen.corpus(os.path.join(self.tmp, "c1"), 7, 0.0005)
        gen.corpus(os.path.join(self.tmp, "c2"), 7, 0.0005)
        self.assertEqual(digest(os.path.join(self.tmp, "c1")), digest(os.path.join(self.tmp, "c2")))

    def test_other_seed_other_bytes(self):
        a, _ = self.etl("a", 7)
        b, _ = self.etl("b", 8)
        self.assertNotEqual(digest(a), digest(b))
        gen.corpus(os.path.join(self.tmp, "c1"), 7, 0.0005)
        gen.corpus(os.path.join(self.tmp, "c2"), 8, 0.0005)
        self.assertNotEqual(digest(os.path.join(self.tmp, "c1")), digest(os.path.join(self.tmp, "c2")))

    def test_truth_matches_the_files(self):
        d, truth = self.etl("a", 3)
        for s in gen.SOURCES:
            t = truth[s]
            with open(os.path.join(d, "input", f"{s}.jsonl")) as f:
                lines = f.read().splitlines()
            self.assertEqual(len(lines), t["total"])
            corrupt = 0
            for ln in lines:
                try:
                    json.loads(ln)
                except ValueError:
                    corrupt += 1
            self.assertEqual(corrupt, t["corrupt"])
            self.assertEqual(t["valid"] + t["invalid"], t["total"])
            self.assertEqual(t["inserted"] + t["duplicates"], t["valid"])
            self.assertGreater(t["in_file_duplicates"], 0)
            self.assertGreater(t["invalid"], t["corrupt"])

    def test_overlap_month_repeats_history(self):
        d, truth = self.etl("a", 3)
        for s in gen.SOURCES:
            t = truth[s]
            overlap, new = t["batch_months"]
            self.assertIn(overlap, t["history_by_month"])
            self.assertNotIn(new, t["history_by_month"])
            # only the month in progress can insert
            self.assertLess(t["inserted"], t["valid"] - t["history_by_month"][overlap] // 2)
            files = os.listdir(os.path.join(d, "warehouse", f"{s}_generation_data"))
            self.assertEqual(len(files), 2)  # one time-ordered file per month

    def test_table_truth_covers_history_and_inserted_rows(self):
        d, truth = self.etl("a", 3)
        for s in gen.SOURCES:
            t, table = truth[s], truth[s]["table"]
            self.assertEqual(table["key_non_null"]["timestamp_ms"], t["history_rows"] + t["inserted"])
            first = min(t["history_by_month"])
            self.assertEqual(table["min_ts"], gen._month_ms(*map(int, first.split("-"))))
            self.assertGreater(table["measure_sum"], 0)

    def test_reference_proportions(self):
        per = gen.monthly_lines(100000)
        self.assertGreater(per["entsoe"], per["ons"])
        self.assertGreater(per["ons"], per["npp"])
        self.assertGreaterEqual(per["npp"], per["eia"])
        self.assertGreaterEqual(per["eia"], per["oe"])
        self.assertEqual(min(per.values()), gen.FLOOR)


if __name__ == "__main__":
    unittest.main()
