"""Unit tests for the benchmark's pure helpers.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertEqual(metrics.tail_percentile(11), 9)

    def test_leaves_at_least_ten_beyond(self):
        for n in (11, 20, 37, 100, 1000, 12345):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100.0, 10 - 1e-9, n)
            # and it is the highest whole percentile that does
            self.assertLess(n * (100 - (p + 1)) / 100.0, 10, n)

    def test_known_values(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(40), 75)


class TailOrMedian(unittest.TestCase):
    def test_never_below_the_median(self):
        self.assertEqual(metrics.tail_or_median(5), 50)
        self.assertEqual(metrics.tail_or_median(16), 50)
        self.assertEqual(metrics.tail_or_median(35), 71)


class TailEntry(unittest.TestCase):
    def test_records_percentile_and_count(self):
        e = metrics._tail([float(i) for i in range(1, 25)], 58)
        self.assertEqual((e["unit"], e["p"], e["n"]), ("ms", 58, 24))
        self.assertAlmostEqual(e["value"], metrics.percentile(range(1, 25), 58))


class ResultLine(unittest.TestCase):
    def test_metrics_hold_only_value_and_unit(self):
        raw = {"workload": "graph_txn", "traced": False, "session_ms": 1000.0,
               "prepare_ms": [3000.0, 2000.0, 4000.0], "loop_ms": 20000.0,
               "loop_cpu_ms": 32500.0, "extra": {"recovery_ok": True},
               "units": [{"ms": float(i), "error": None, "wrong": None} for i in range(1, 66)]}
        result, tails, spans = metrics.summarize(raw, {})
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((result["correct"], result["attempted"], result["failed"]), (True, 66, 0))
        self.assertEqual(set(result["metrics"]), {"setup_s", "cpu_ms_per_op", "answer_recall"})
        for name, entry in result["metrics"].items():
            self.assertEqual(set(entry), {"value", "unit"}, name)
        self.assertEqual(result["metrics"]["setup_s"]["value"], 4.0)
        self.assertEqual(result["metrics"]["cpu_ms_per_op"]["value"], 500.0)
        self.assertEqual(tails, {})
        self.assertIsNone(spans)

    def test_wall_clock_tail_records_p_and_n(self):
        raw = {"units": [{"ms": float(i)} for i in range(1, 66)], "loop_ms": 13000.0}
        wall = metrics.wall_clock(raw)
        self.assertEqual(wall["run.latency_tail_ms"]["p"], 84)
        self.assertEqual(wall["run.latency_tail_ms"]["n"], 65)
        self.assertEqual(wall["run.throughput_per_s"]["value"], 5.0)


class Percentile(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 90), 5)
        self.assertEqual(metrics.percentile([3, 1, 2], 100), 3)
        self.assertEqual(metrics.percentile([3, 1, 2], 0), 1)


class UnionGap(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_union_touching_intervals(self):
        self.assertEqual(metrics.union_ms([(0, 5), (5, 10)]), 10)

    def test_clipping(self):
        self.assertEqual(metrics.union_ms([(-5, 5), (8, 20)], 0, 10), 7)
        self.assertEqual(metrics.union_ms([(20, 30)], 0, 10), 0)

    def test_driver_gap(self):
        # unit 0..100 with jobs 10..30 and 20..40 (overlapping) and one
        # that ends after the unit: inside jobs 10..40 and 90..100
        self.assertEqual(metrics.driver_gap_ms(0, 100, [(10, 30), (20, 40), (90, 120)]), 60)
        self.assertEqual(metrics.driver_gap_ms(0, 100, []), 100)


class SelfTime(unittest.TestCase):
    def test_tree(self):
        spans = [
            {"id": "u", "parent": None, "start_ms": 0, "end_ms": 100},
            {"id": "b", "parent": "u", "start_ms": 0, "end_ms": 40},
            {"id": "a", "parent": "u", "start_ms": 50, "end_ms": 100},
            {"id": "j1", "parent": "b", "start_ms": 10, "end_ms": 20},
            {"id": "j2", "parent": "a", "start_ms": 60, "end_ms": 90},
            {"id": "j3", "parent": "a", "start_ms": 80, "end_ms": 95},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st, {"u": 10, "b": 30, "a": 15, "j1": 10, "j2": 30, "j3": 15})

    def test_children_outside_parent_are_clipped(self):
        spans = [{"id": "p", "parent": None, "start_ms": 0, "end_ms": 10},
                 {"id": "c", "parent": "p", "start_ms": 5, "end_ms": 50}]
        self.assertEqual(metrics.self_times(spans)["p"], 5)


class Fingerprints(unittest.TestCase):
    def test_merge_is_order_free(self):
        parts = [(3, 100), (0, 0), (7, -40)]
        self.assertEqual(metrics.merge_fingerprints(parts), (10, 60))
        self.assertEqual(metrics.merge_fingerprints(parts[::-1]), (10, 60))

    def test_merge_wraps_like_spark_longs(self):
        big = 2 ** 63 - 1
        self.assertEqual(metrics.merge_fingerprints([(1, big), (1, 1)]), (2, -2 ** 63))
        self.assertEqual(metrics.merge_fingerprints([(1, -2 ** 63), (1, -1)]), (2, big))

    def test_single_part_is_unchanged(self):
        self.assertEqual(metrics.merge_fingerprints([(5, -7)]), (5, -7))


if __name__ == "__main__":
    unittest.main()
