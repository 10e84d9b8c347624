"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover perfbench
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402


def span(i, parent, name, t0, t1, **attrs):
    return {"type": "span", "id": i, "parent": parent, "name": name, "req": 1,
            "t0_us": t0, "t1_us": t1, "attrs": attrs}


def job(i, span_id, t0, t1, task_ms=0):
    return {"type": "job", "id": i, "span": span_id, "t0_us": t0, "t1_us": t1, "tasks": 1,
            "task_ms": task_ms, "gc_ms": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0}


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        # 200 samples: p95 leaves exactly 10 beyond it, p98 only 4
        p, value, n, beyond = M.tail(list(range(1, 201)))
        self.assertEqual((p, value, n, beyond), (95.0, 190, 200, 10))

    def test_smaller_runs_fall_back_down_the_ladder(self):
        self.assertEqual(M.tail(list(range(1, 101)))[:2], (90.0, 90))
        self.assertEqual(M.tail(list(range(1, 21))), (50.0, 10, 20, 10))

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(M.tail(list(range(19))))

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(M.tail(xs), M.tail(sorted(xs)))


class PassTimeTest(unittest.TestCase):
    def test_each_operation_at_its_median(self):
        passes = [{"a": 100.0, "b": 900.0}, {"a": 300.0, "b": 500.0}, {"a": 200.0, "b": 700.0}]
        # medians 200 and 700, not the median pass (1000 ms)
        self.assertAlmostEqual(M.pass_time(passes), 0.9)

    def test_no_passes(self):
        self.assertIsNone(M.pass_time([]))


class IntervalTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # two jobs submitted together (Par.jobs), one after them
        self.assertEqual(M.union_us([(0, 10), (5, 15), (20, 30)]), 25)

    def test_clipping_to_the_span(self):
        self.assertEqual(M.union_us([(-5, 5), (8, 50)], 0, 10), 7)

    def test_driver_gap_with_overlapping_jobs(self):
        # span 0..100; jobs 10..40 and 20..60 overlap, 70..80 alone: busy
        # 10..60 and 70..80 = 60, so the gap is 40 — never negative, and
        # never the 100 - (30 + 40 + 10) = 20 a per-job sum would give
        tr = M.Trace([span(1, 0, "req.x", 0, 100),
                      job(1, 1, 10, 40), job(2, 1, 20, 60), job(3, 1, 70, 80)], cores=4)
        self.assertEqual(tr.driver_gap_us(tr.spans[1]), 40)

    def test_driver_gap_counts_jobs_of_child_spans(self):
        tr = M.Trace([span(1, 0, "req.x", 0, 100), span(2, 1, "kv.append", 10, 50),
                      job(1, 2, 10, 50)], cores=4)
        self.assertEqual(tr.driver_gap_us(tr.spans[1]), 60)

    def test_self_time_subtracts_children(self):
        tr = M.Trace([span(1, 0, "req.x", 0, 100), span(2, 1, "a", 10, 30),
                      span(3, 1, "b", 20, 50), span(4, 3, "c", 25, 26)], cores=4)
        self.assertEqual(tr.self_us(tr.spans[1]), 60)   # children cover 10..50
        self.assertEqual(tr.self_us(tr.spans[3]), 29)

    def test_parallel_efficiency(self):
        tr = M.Trace([span(1, 0, "req.x", 0, 1000000), job(1, 1, 0, 1000000, task_ms=2000)],
                     cores=4)
        self.assertAlmostEqual(tr.spark([tr.spans[1]])["parallel_eff"], 0.5)

    def test_subset_keeps_measured_requests_only(self):
        tr = M.Trace([span(1, 0, "setup.build", 0, 10), span(2, 1, "kv.append", 1, 2),
                      span(3, 0, "req.x", 20, 30), span(4, 3, "kv.append", 21, 22),
                      job(1, 2, 1, 2), job(2, 4, 21, 22)], cores=4)
        sub = tr.subset(lambda root: root.startswith("req."))
        self.assertEqual(sorted(sub.spans), [3, 4])
        self.assertEqual([j["id"] for j in sub.jobs], [2])


if __name__ == "__main__":
    unittest.main()
