"""Tests of the benchmark's own arithmetic (perfbench/stats.py).

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_p50_needs_ten_samples_above(self):
        self.assertIsNone(stats.percentile(range(19), 50))
        self.assertEqual(stats.percentile(range(1, 21), 50), 10)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(stats.percentile(range(99), 90))
        self.assertEqual(stats.percentile(range(1, 101), 90), 90)

    def test_nearest_rank_ignores_order(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 90), 5)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))


class SpreadTest(unittest.TestCase):
    def test_interquartile_share_of_median(self):
        # statistics.quantiles(range(1, 11), n=4) -> [2.75, 5.5, 8.25]
        self.assertAlmostEqual(stats.spread(range(1, 11)), (8.25 - 2.75) / 5.5)

    def test_constant_has_no_spread(self):
        self.assertEqual(stats.spread([3.0] * 10), 0.0)


class FailShareTest(unittest.TestCase):
    def test_counts_failed_and_wrong_operations(self):
        ops = [{"ok": True}] * 7 + [{"ok": False}] * 3
        self.assertEqual(stats.fail_share(ops), (10, 3, 0.3))

    def test_all_good_is_zero(self):
        self.assertEqual(stats.fail_share([{"ok": True}] * 4), (4, 0, 0.0))

    def test_nothing_attempted_counts_as_failure(self):
        self.assertEqual(stats.fail_share([]), (0, 0, 1.0))


# (id, parent, name, detail, start_ms, end_ms, files written)
SPANS = [
    (1, 0, "load", "", 0.0, 100.0, 0),
    (2, 1, "ingest.scan", "", 10.0, 30.0, 2),
    (3, 1, "validate", "", 40.0, 70.0, 1),
    (4, 3, "validate.inner", "", 50.0, 60.0, 9),
    (5, 1, "validate", "", 80.0, 90.0, 2),
]


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        s = stats.self_seconds(SPANS)
        self.assertAlmostEqual(s[1], (100 - 20 - 30 - 10) / 1e3)
        self.assertAlmostEqual(s[2], 20 / 1e3)
        self.assertAlmostEqual(s[3], 20 / 1e3)  # 30 ms minus its 10 ms child
        self.assertAlmostEqual(s[4], 10 / 1e3)

    def test_overlapping_children_count_once(self):
        spans = [(1, 0, "p", "", 0.0, 10.0, 0), (2, 1, "a", "", 2.0, 6.0, 0),
                 (3, 1, "b", "", 4.0, 8.0, 0)]
        self.assertAlmostEqual(stats.self_seconds(spans)[1], 4 / 1e3)

    def test_self_times_add_up_to_the_root(self):
        self.assertAlmostEqual(sum(stats.self_seconds(SPANS).values()), 100 / 1e3)


class LayerMetricsTest(unittest.TestCase):
    def test_sums_over_spans_and_attributes_tasks(self):
        trace = {
            "spans": SPANS,
            # span, stage, launch, finish, cpu_ns, run_ms, shuffle, spill
            "tasks": [[2, 1, 12, 20, 5e8, 8, 100, 0], [2, 1, 12, 28, 1e9, 16, 50, 7],
                      [3, 2, 40, 45, 2e8, 5, 0, 0], [5, 3, 80, 90, 1e8, 10, 0, 0]],
        }
        m = stats.layer_metrics(trace, ["ingest.scan", "validate"], with_files=True)
        scan, val = m["ingest.scan"], m["validate"]
        self.assertAlmostEqual(scan["s"], 0.020)
        # scan self [10,30] minus task time [12,28]
        self.assertAlmostEqual(scan["driver_s"], 0.004)
        self.assertAlmostEqual(scan["task_cpu_s"], 1.5)
        self.assertEqual((scan["tasks"], scan["shuffle_bytes"], scan["spill_bytes"]), (2, 150, 7))
        self.assertEqual(scan["files_out"], 2)
        self.assertAlmostEqual(scan["task_skew"], 16 / 12)
        # validate: two spans, [40,70] minus child [50,60] plus [80,90]
        self.assertAlmostEqual(val["s"], 0.030)
        self.assertAlmostEqual(val["driver_s"], (30 - 5 - 10) / 1e3)
        self.assertEqual(val["tasks"], 2)
        self.assertEqual(val["files_out"], 3)  # the child's 9 files are not validate's

    def test_absent_layer_reads_zero(self):
        m = stats.layer_metrics({"spans": SPANS, "tasks": []}, ["sink"], True)
        self.assertEqual(m["sink"], {"s": 0, "driver_s": 0, "task_cpu_s": 0, "tasks": 0,
                                     "shuffle_bytes": 0, "spill_bytes": 0, "files_out": 0,
                                     "task_skew": 0.0})


if __name__ == "__main__":
    unittest.main()
