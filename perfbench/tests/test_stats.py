"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 25), 1.75)

    def test_median_of_odd_count_is_middle_value(self):
        self.assertEqual(stats.median([5.0, 1.0, 9.0]), 5.0)

    def test_empty_input_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailPercentileTest(unittest.TestCase):
    def test_leaves_at_least_ten_samples_beyond(self):
        for n in range(20, 2000):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n * (1 - p / 100.0), 10 - 1e-9, n)
            # and no higher whole percentile would
            self.assertLess(n * (1 - (p + 1) / 100.0), 10, n)

    def test_known_counts(self):
        self.assertEqual(stats.tail_percentile(155), 93)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(23), 56)
        self.assertEqual(stats.tail_percentile(20), 50)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertIsNone(stats.tail_percentile(3))


class UnionTest(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(stats.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(stats.union_length([(0, 2), (1, 3)]), 3)
        self.assertEqual(stats.union_length([(1, 3), (0, 2), (5, 6), (2, 2.5)]), 4)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)

    def test_clip_to_window(self):
        # jobs that started before or ended after the operation count
        # only inside it
        self.assertEqual(stats.union_length([(-5, 1), (3, 20)], 0, 10), 8)
        self.assertEqual(stats.union_length([(11, 12)], 0, 10), 0)

    def test_driver_gap_is_wall_outside_jobs(self):
        op = (100.0, 200.0)
        jobs = [(110, 130), (120, 150), (170, 180)]
        gap = (op[1] - op[0]) - stats.union_length(jobs, *op)
        self.assertEqual(gap, 50)

    def test_empty(self):
        self.assertEqual(stats.union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_part_once(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 4), (3, 6)]), 5)
        self.assertEqual(stats.self_time(0, 10, []), 10)
        self.assertEqual(stats.self_time(0, 10, [(-1, 11)]), 0)

    def test_add_self_times_uses_direct_children_only(self):
        spans = [
            {"id": 1, "parent": None, "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 60},
            {"id": 3, "parent": 2, "start_ms": 20, "end_ms": 30},
            {"id": 4, "parent": 1, "start_ms": 50, "end_ms": 70},
        ]
        got = {s["id"]: s["self_ms"] for s in stats.add_self_times(spans)}
        self.assertEqual(got, {1: 40, 2: 40, 3: 10, 4: 20})


class MetricsLogTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "fixtures", "metrics.log")) as f:
            self.visits = stats.parse_metrics_log(f)

    def test_groups_records_by_visit(self):
        self.assertEqual(sorted(self.visits), [4, 6])
        self.assertEqual(len(self.visits[4]), 19)
        self.assertEqual(self.visits[6][0][:2], ("detect_time", "all"))

    def test_phase_sums(self):
        ph = stats.visit_phases(self.visits[4])
        self.assertAlmostEqual(ph["detect_s"], 0.216726969)
        self.assertAlmostEqual(ph["read_obj_s"], 0.330447095)
        self.assertAlmostEqual(ph["read_src_s"], 0.356949957)
        self.assertAlmostEqual(ph["read_fsrc_s"], 0.170731309)
        self.assertAlmostEqual(ph["store_s"], 2.042905039)
        self.assertAlmostEqual(ph["insert_append_s"], 0.376685354 + 0.198531532)
        self.assertAlmostEqual(ph["insert_chunks_s"], 0.176888525 + 0.172965549)
        self.assertAlmostEqual(ph["merge_objlast_s"], 0.721489654)
        self.assertAlmostEqual(ph["visit_s"], 4.296177232)
        self.assertAlmostEqual(ph["other_s"], 4.296177232 - (
            0.216726969 + 0.330447095 + 0.356949957 + 0.170731309 + 2.042905039))
        self.assertEqual(ph["objects_read"], 5188)
        self.assertEqual(ph["objects_filtered"], 5188)
        self.assertEqual(ph["select_queries"], 9)
        self.assertEqual(ph["rows_stored"], 10758)

    def test_ignores_other_lines(self):
        self.assertEqual(stats.parse_metrics_log(["noise", ""]), {})

    def test_phase_spans_lie_end_to_end_inside_the_visit(self):
        ph = stats.visit_phases(self.visits[4])
        spans = stats.phase_spans(ph, 1000.0)
        top = [s for s in spans if s[1] is None]
        self.assertEqual([s[0] for s in top], ["apdb.detect", "apdb.read_obj", "apdb.read_src",
                                               "apdb.read_fsrc", "apdb.store"])
        for a, b in zip(top, top[1:]):
            self.assertAlmostEqual(a[3], b[2])
        store = top[-1]
        inner = [s for s in spans if s[1] == "apdb.store"]
        self.assertAlmostEqual(inner[0][2], store[2])
        self.assertLessEqual(inner[-1][3], store[3] + 1e-9)
        self.assertLessEqual(store[3], 1000.0 + ph["visit_s"] * 1000.0)


if __name__ == "__main__":
    unittest.main()
