"""Unit tests for jobtrace.py's gap and busy-time math.

Run: python3 -m unittest discover tools
"""
import json, os, sys, tempfile, unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import jobtrace  # noqa: E402


def start(job, t0, desc='q rep1'):
    return {'Event': 'SparkListenerJobStart', 'Job ID': job,
            'Submission Time': t0, 'Properties': {'spark.job.description': desc},
            'Stage Infos': [{'Stage Name': f'site{job}'}]}


def end(job, t1):
    return {'Event': 'SparkListenerJobEnd', 'Job ID': job, 'Completion Time': t1}


class JobTraceTest(unittest.TestCase):
    def test_overlapping_jobs(self):
        # job 0 runs 1000..4000; job 1 was submitted FIRST (500..2000)
        # although its id is higher; job 2 starts 1000 ms after both end
        events = [start(1, 500), start(0, 1000), end(1, 2000), end(0, 4000),
                  start(2, 5000), end(2, 6000)]
        with tempfile.NamedTemporaryFile('w', suffix='.json', delete=False) as f:
            for ev in events:
                f.write(json.dumps(ev) + '\n')
        try:
            rows, span, busy = jobtrace.trace(jobtrace.load(f.name))
        finally:
            os.unlink(f.name)
        self.assertEqual([site for _, _, site in rows],
                         ['site1 (1 stages)', 'site0 (1 stages)', 'site2 (1 stages)'])
        # job 0 starts while job 1 still runs: no gap, never negative
        self.assertEqual([gap for _, gap, _ in rows], [0.0, 0.0, 1.0])
        self.assertEqual(span, 5.5)
        # union of [0.5, 4.0) and [5.0, 6.0), not the 5.5 s sum of durations
        self.assertEqual(busy, 4.5)

    def test_filter_by_description(self):
        jobs = {0: {'desc': 'a rep1', 'site': 's', 't0': 0, 't1': 10},
                1: {'desc': 'b rep1', 'site': 's', 't0': 20, 't1': 30},
                2: {'desc': 'a rep2', 'site': 's', 't0': 40, 't1': None}}
        rows, span, busy = jobtrace.trace(jobs, 'a')
        self.assertEqual(len(rows), 1)
        self.assertEqual((span, busy), (0.01, 0.01))


if __name__ == '__main__':
    unittest.main()
