"""Tests of the benchmark's metric derivations.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import metrics  # noqa: E402


def span(id, parent, start, end, name="s"):
    return {"id": id, "parent": parent, "name": name, "start_ms": start, "end_ms": end, "attrs": {}}


class DriverGapTest(unittest.TestCase):
    def test_disjoint_jobs(self):
        # 100 ms span, jobs cover 10 + 20 ms
        self.assertAlmostEqual(metrics.driver_gap_ms((0, 100), [(10, 20), (50, 70)]), 70)

    def test_overlapping_jobs_count_once(self):
        # parallel table jobs overlap: union is [10, 60] = 50 ms
        self.assertAlmostEqual(metrics.driver_gap_ms((0, 100), [(10, 40), (30, 60), (35, 50)]), 50)

    def test_jobs_clipped_to_span(self):
        self.assertAlmostEqual(metrics.driver_gap_ms((0, 100), [(-50, 10), (90, 200)]), 80)

    def test_no_jobs_is_all_gap(self):
        self.assertAlmostEqual(metrics.driver_gap_ms((5, 25), []), 20)

    def test_touching_intervals(self):
        self.assertAlmostEqual(metrics.union_length([(0, 10), (10, 20)]), 20)


class ScanPassesTest(unittest.TestCase):
    def test_ratio_of_task_input_to_listed_bytes(self):
        # CSV: inference, count and write each read the listed bytes once
        self.assertAlmostEqual(metrics.scan_passes(3 * 1000, 1000), 3.0)
        # dump of 7 tables: one parse pass, then count and write per table
        self.assertAlmostEqual(metrics.scan_passes(15 * 512, 512), 15.0)

    def test_no_listed_bytes(self):
        self.assertEqual(metrics.scan_passes(10, 0), 0.0)


class PercentileTest(unittest.TestCase):
    def test_supported_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.supported_percentile(19))
        self.assertEqual(metrics.supported_percentile(20), 50.0)
        self.assertEqual(metrics.supported_percentile(99), 50.0)
        self.assertEqual(metrics.supported_percentile(100), 90.0)
        self.assertEqual(metrics.supported_percentile(200), 95.0)
        self.assertEqual(metrics.supported_percentile(1000), 99.0)
        self.assertEqual(metrics.supported_percentile(10000), 99.9)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(metrics.percentile(values, 50), 50)
        self.assertEqual(metrics.percentile(values, 90), 90)
        self.assertEqual(metrics.percentile([3.0], 99), 3.0)


class SpanTest(unittest.TestCase):
    def setUp(self):
        self.spans = [span(0, -1, 0, 100, "iteration"), span(1, 0, 0, 40, "convert"),
                      span(2, 0, 45, 100, "layers"), span(3, 2, 50, 60, "table"),
                      span(4, 3, 50, 55, "orcsink.write")]

    def test_self_times_sum_to_root_wall(self):
        self_ms = metrics.self_times_ms(self.spans)
        self.assertAlmostEqual(self_ms[0], 5)  # the gap between convert and layers
        self.assertAlmostEqual(self_ms[2], 45)
        self.assertAlmostEqual(self_ms[3], 5)
        self.assertAlmostEqual(sum(self_ms.values()), 100)

    def test_subtree(self):
        self.assertEqual(sorted(s["id"] for s in metrics.subtree(self.spans, 2)), [2, 3, 4])

    def test_jobs_attributed_by_group_then_innermost_open_span(self):
        jobs = [{"id": 7, "group": "perfbench-span-1", "start_ms": 70},
                {"id": 8, "group": "graft-convert-orders-1", "start_ms": 52},
                {"id": 9, "group": "", "start_ms": 42},
                {"id": 10, "group": "", "start_ms": 500}]
        self.assertEqual(metrics.attribute_jobs(self.spans, jobs), {7: 1, 8: 4, 9: 0})


if __name__ == "__main__":
    unittest.main()
