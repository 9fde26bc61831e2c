"""Tests of the benchmark's own metric code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

from digest import digest, same
from metrics import exec_metrics, percentile, tail, union_ms


def stage(sid, tasks, submit, complete, busy=0):
    return [sid, 0, tasks, submit, complete, busy, 0, 0, 0, 0]


class ExecMetricsTest(unittest.TestCase):
    def test_job_without_end_is_incomplete_never_negative(self):
        # job 2 never posted its end: the listener keeps end = -1
        jobs = [[1, 1000, 1500, [10]], [2, 1600, -1, [11]]]
        stages = [stage(10, 4, 1000, 1500, busy=1600), stage(11, 1, 1600, -1)]
        m = exec_metrics(jobs, stages, [(900, 2000)], cores=4)
        self.assertEqual(m["exec.jobs_incomplete"], 1)
        self.assertEqual(m["exec.jobs_per_op"], 2)
        # only the completed job covers the op: 1100 ms wall - 500 ms
        self.assertAlmostEqual(m["exec.driver_gap_s"], 0.6)
        self.assertEqual(m["exec.single_task_stage_s"], 0.0)
        self.assertTrue(all(v >= 0 for v in m.values()), m)

    def test_jobs_belong_to_the_op_that_started_them(self):
        jobs = [[1, 100, 300, [1]], [2, 250, 400, [2]], [3, 900, 950, [3]]]
        stages = [stage(1, 1, 100, 300), stage(2, 2, 250, 400), stage(3, 1, 900, 950)]
        m = exec_metrics(jobs, stages, [(100, 500), (800, 1000)], cores=2)
        self.assertEqual(m["exec.jobs_per_op"], 1.5)
        # op 1: 400 ms wall, jobs cover [100, 400]; op 2: 200 ms, 50 covered
        self.assertAlmostEqual(m["exec.driver_gap_s"], (100 + 150) / 1000 / 2)
        self.assertAlmostEqual(m["exec.single_task_stage_s"], (0.2 + 0.05) / 2)

    def test_union_merges_overlaps(self):
        self.assertEqual(union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(union_ms([]), 0)


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(tail(list(range(100)))[0], 90)
        self.assertEqual(tail(list(range(1000)))[0], 99)
        self.assertEqual(tail(list(range(20)))[0], 50)
        self.assertEqual(tail(list(range(19))), (None, None))

    def test_percentile_interpolates(self):
        self.assertEqual(percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(percentile([7], 90), 7)


class DigestTest(unittest.TestCase):
    def test_order_insensitive_and_float_tolerant(self):
        a = digest([(1, "x", 0.1 + 0.2), (2, None, 1.0)])
        b = digest([(2, None, 1.0), (1, "x", 0.3)])
        self.assertTrue(same(a, b))

    def test_detects_changed_value_and_swapped_floats(self):
        base = digest([(1, "x", 1.0), (2, "y", 5.0)])
        self.assertFalse(same(base, digest([(1, "x", 1.0), (3, "y", 5.0)])))
        self.assertFalse(same(base, digest([(1, "x", 5.0), (2, "y", 1.0)])))
        self.assertFalse(same(base, digest([(1, "x", 1.0)])))


if __name__ == "__main__":
    unittest.main()
