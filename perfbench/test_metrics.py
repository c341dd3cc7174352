"""Tests of the benchmark's own arithmetic, on synthetic spans.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def stage(job, t0, t1, **kw):
    s = {"k": "stage", "job": job, "t0": t0, "t1": t1, "tasks": 1, "failed_tasks": 0,
         "run_ms": t1 - t0, "cpu_ns": 0, "gc_ms": 0, "deser_ms": 0, "peak_mem": 0,
         "shuffle_write": 0, "shuffle_write_ns": 0, "shuffle_read": 0,
         "fetch_wait_ms": 0, "spill": 0, "in_bytes": 0, "in_rows": 0,
         "out_bytes": 0, "out_rows": 0, "write_tasks": 0, "max_task_ms": t1 - t0,
         "task_wait_ms": 0}
    s.update(kw)
    return s


class UnionTest(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(metrics.union_length([(0, 1), (2, 4)]), 3)
        self.assertEqual(metrics.union_length([(0, 3), (2, 5)]), 5)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(5, 6), (0, 1), (0.5, 2)]), 3)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_duration_minus_union_of_children(self):
        # children overlap each other: counted once
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (8, 20)]), 6)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((2, 9), []), 7)


class DriverGapTest(unittest.TestCase):
    def test_wall_minus_union_of_overlapping_jobs(self):
        # jobs 1-4 and 3-6 overlap; 8-9 is separate: busy 6 of 10
        self.assertEqual(metrics.driver_gap((0, 10), [(1, 4), (3, 6), (8, 9)]), 4)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(metrics.driver_gap((0, 3), []), 3)

    def test_job_spilling_past_the_wall(self):
        self.assertEqual(metrics.driver_gap((0, 10), [(9, 12)]), 9)


class TailPercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([7], 99), 7)

    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
        p, v, b = metrics.tail_percentile(list(range(1, 101)))
        self.assertEqual((p, v, b), (90.0, 90, 10))
        # 1000 samples: p99 leaves 10 beyond
        self.assertEqual(metrics.tail_percentile(list(range(1000)))[0], 99.0)
        # 40 samples: p75 leaves 10 beyond, p90 only 4
        self.assertEqual(metrics.tail_percentile(list(range(40)))[:1], (75.0,))

    def test_per_operation_percentile_is_a_geometric_mean(self):
        by_op = {"a": [1.0, 1.0, 1.0], "b": [4.0, 4.0, 9.0]}
        self.assertAlmostEqual(metrics.op_percentile(by_op, 50), 2.0)
        self.assertAlmostEqual(metrics.op_percentile(by_op, 90), 3.0)
        # a 10% change to one of two operations moves it by sqrt(1.1)
        slower = {"a": [1.1, 1.1, 1.1], "b": [4.0, 4.0, 9.0]}
        self.assertAlmostEqual(metrics.op_percentile(slower, 50), 2.0 * 1.1 ** 0.5)

    def test_tail_pools_ratios_to_each_operations_median(self):
        # medians 1 and 4 (typical 2); ratios 1,1,1,1.2 and 1,1,1,2
        by_op = {"a": [1.0, 1.0, 1.0, 1.2], "b": [4.0, 4.0, 4.0, 8.0]}
        self.assertAlmostEqual(metrics.op_tail(by_op, 50), 2.0)
        self.assertAlmostEqual(metrics.op_tail(by_op, 80), 2.4)
        self.assertAlmostEqual(metrics.op_tail(by_op, 90), 4.0)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50.0)


class OpLayersTest(unittest.TestCase):
    def op(self):
        return {"name": "x", "t0": 0.0, "t1": 100.0, "build": [0.0, 20.0],
                "read": [20.0, 100.0], "codegen": 1, "gc_ms": 5}

    def test_layers_sum_to_wall_when_spans_nest(self):
        spans = [
            {"k": "phase", "name": "analysis", "t0": 21.0, "t1": 25.0},
            {"k": "job", "id": 1, "t0": 30.0, "t1": 90.0, "failed": False},
            stage(1, 32.0, 60.0), stage(1, 40.0, 88.0),
        ]
        r = metrics.op_layers(self.op(), spans, cores=4)
        self.assertTrue(r["reconciled"])
        self.assertAlmostEqual(sum(r["layers_s"].values()), r["wall_s"])
        # overlapping stages count once: 32..88
        self.assertAlmostEqual(r["layers_s"]["executor"], 0.056)
        self.assertAlmostEqual(r["layers_s"]["scheduler"], 0.004)
        self.assertAlmostEqual(r["scheduler.driver_gap_s"], 0.040)
        self.assertEqual(r["scheduler.jobs"], 1)
        self.assertEqual(r["operators.build_jobs"], 0)

    def test_overlapping_jobs_are_flagged(self):
        spans = [
            {"k": "job", "id": 1, "t0": 25.0, "t1": 95.0, "failed": False},
            {"k": "job", "id": 2, "t0": 30.0, "t1": 90.0, "failed": False},
            stage(1, 25.0, 95.0), stage(2, 30.0, 90.0),
        ]
        r = metrics.op_layers(self.op(), spans, cores=4)
        self.assertFalse(r["reconciled"])

    def test_commit_tail_follows_a_writing_job(self):
        spans = [
            {"k": "job", "id": 1, "t0": 2.0, "t1": 10.0, "failed": False},
            stage(1, 2.0, 10.0, out_rows=5, write_tasks=1),
            {"k": "job", "id": 2, "t0": 16.0, "t1": 18.0, "failed": False},
            stage(2, 16.0, 18.0),
        ]
        r = metrics.op_layers(self.op(), spans, cores=4)
        self.assertAlmostEqual(r["sources.commit_tail_s"], 0.006)
        self.assertEqual(r["operators.build_jobs"], 2)
        self.assertEqual(r["sources.files_written"], 1)


if __name__ == "__main__":
    unittest.main()
