"""Self-tests of the harness's statistics, digests and input generator.

    python3 perfbench/test_stats.py
"""
import datetime
import math
import os
import sys
import tempfile
import unittest
from decimal import Decimal

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.tail_percentile(range(1, 101), 90), 90)
        self.assertIsNone(stats.tail_percentile(range(1, 100), 90))
        self.assertIsNone(stats.tail_percentile([], 50))

    def test_median_is_the_p50_with_enough_samples(self):
        xs = list(range(1, 22))
        self.assertEqual(stats.median(xs), 11)
        self.assertEqual(stats.tail_percentile(xs, 50), 11)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_failed_operations_count_as_infinite(self):
        xs = [1.0] * 80 + [math.inf] * 20
        self.assertEqual(stats.median(xs), 1.0)
        self.assertTrue(math.isinf(stats.tail_percentile(xs, 90)))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        # children cover [1, 6] and [8, 10] of the span: 7 of its 10 units
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]), 3)

    def test_nested_and_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 10), [(2, 8), (3, 4)]), 4)
        self.assertEqual(stats.self_time((0, 10), [(11, 12)]), 10)
        self.assertEqual(stats.union([(0, 1), (1, 2), (5, 6)]), 3)


class FailedFrac(unittest.TestCase):
    def test_base_is_reported(self):
        self.assertEqual(stats.failed_frac(3, 12),
                         {"value": 0.25, "failed": 3, "attempted": 12})
        self.assertEqual(stats.failed_frac(0, 5)["value"], 0.0)

    def test_invalid_base_is_refused(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_frac(6, 5)


class Ledger(unittest.TestCase):
    sample = {"start_us": 0, "build_end_us": 4_000, "end_us": 10_000}

    def test_split_sums_to_wall(self):
        jobs = [{"start_us": 1_000, "end_us": 2_000}, {"start_us": 6_000, "end_us": 9_000}]
        phases = [[(500, 800), (4_100, 4_600), (4_600, 5_000)]]
        led = stats.sample_ledger(self.sample, jobs, phases)
        self.assertAlmostEqual(led["in_job_s"], 0.004)
        self.assertAlmostEqual(led["catalyst_s"], 0.0012)
        self.assertAlmostEqual(led["build_self_s"], 0.0027)
        self.assertAlmostEqual(led["out_job_s"], 0.0021)
        self.assertAlmostEqual(led["residual_s"], 0.0)
        self.assertTrue(led["reconciled"])

    def test_job_outside_the_query_is_a_residual(self):
        jobs = [{"start_us": 8_000, "end_us": 30_000}]
        led = stats.sample_ledger(self.sample, jobs, [])
        self.assertAlmostEqual(led["residual_s"], 0.020)
        self.assertFalse(led["reconciled"])


class Digest(unittest.TestCase):
    def test_representation_rules(self):
        self.assertEqual(oracle.cell(3.0), "i3")
        self.assertEqual(oracle.cell(np.int32(3)), "i3")
        self.assertEqual(oracle.cell(-0.0), "i0")
        self.assertEqual(oracle.cell(0.1), "f3fb999999999999a")
        self.assertEqual(oracle.cell(float("nan")), "N")
        self.assertEqual(oracle.cell(None), "N")
        self.assertEqual(oracle.cell(datetime.date(2024, 1, 2)),
                         oracle.cell(datetime.datetime(2024, 1, 2)))
        self.assertEqual(oracle.cell(np.datetime64("2024-01-02T00:00:00.000001")),
                         "t1704153600000001")
        self.assertNotEqual(oracle.cell(Decimal("1.5")), oracle.cell(1.5))

    def test_digest_ignores_row_and_column_order(self):
        a = oracle.digest(["x", "y"], [(1, "a"), (2, "b")])
        b = oracle.digest(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.digest(["x", "y"], [(1, "a"), (2, "b"), (2, "b")]))


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write(gen.base(0.001, 7), os.path.join(d, "a"))
            gen.write(gen.base(0.001, 7), os.path.join(d, "b"))
            gen.write(gen.base(0.001, 8), os.path.join(d, "c"))
            self.assertEqual(gen.tree_digest(os.path.join(d, "a")),
                             gen.tree_digest(os.path.join(d, "b")))
            self.assertNotEqual(gen.tree_digest(os.path.join(d, "a")),
                                gen.tree_digest(os.path.join(d, "c")))

    def test_split_keeps_every_event_within_the_lag_bound(self):
        events = gen.base(0.001, 7)["events"]
        pieces = gen.split_events(events, 10, 7)
        ids = np.concatenate([p["event_id"].to_numpy() for p in pieces])
        self.assertEqual(sorted(ids.tolist()), list(range(events.num_rows)))
        ts = np.concatenate([p["ts"].cast("int64").to_numpy() for p in pieces])
        late = np.maximum.accumulate(ts) - ts
        self.assertLessEqual(late.max(), gen.MAX_LAG_US)


if __name__ == "__main__":
    unittest.main()
