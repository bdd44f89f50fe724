"""Self time is a span's duration minus what its children cover."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import rollup  # noqa: E402


def span(i, parent, start, end):
    return {"id": i, "name": "s%d" % i, "parent": parent, "op": 0,
            "start_ms": start, "end_ms": end, "group": "perfbench-span-%d" % i,
            "attrs": {}}


class RollupTest(unittest.TestCase):

    def test_self_time_subtracts_covered_children(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 100, 400), span(2, 0, 300, 600),
                 span(3, 2, 350, 450)]
        st = rollup.self_times(spans)
        self.assertAlmostEqual(st[0], 0.5)   # children cover 100..600
        self.assertAlmostEqual(st[1], 0.3)
        self.assertAlmostEqual(st[2], 0.2)
        self.assertAlmostEqual(st[3], 0.1)

    def test_jobs_follow_span_groups(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 10, 20)]
        job = {"tasks": 1, "run_ms": 5, "max_task_ms": 5, "shuffle_write": 0,
               "shuffle_read": 0, "spill": 0, "peak_mem": 0}
        counters = {"jobs": [dict(job, group="perfbench-span-1", submit_ms=15),
                             dict(job, group="run-uuid", submit_ms=500),
                             dict(job, group="", submit_ms=600)]}
        self.assertEqual(len(rollup.jobs_of(counters, [spans[1]])), 1)
        self.assertEqual(len(rollup.jobs_of(counters, rollup.subtree(spans, 0))), 1)
        self.assertEqual(rollup.totals(rollup.jobs_of(counters, spans))["tasks"], 1)

if __name__ == "__main__":
    unittest.main()
