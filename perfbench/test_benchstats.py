"""Tests of the benchmark's arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchstats as b  # noqa: E402


def span(id, t0, t1, parent=0, op=0, layer="log", name="x"):
    return {"id": id, "parent": parent, "op": op, "layer": layer, "name": name,
            "t0": t0, "t1": t1}


def job(id, span_id, t0, t1, **fields):
    j = {"id": id, "span": span_id, "t0": t0, "t1": t1, "stages": 1, "tasks": 1,
         "task_run_s": 0.0, "task_cpu_s": 0.0, "shuffle_read_bytes": 0,
         "shuffle_write_bytes": 0, "spill_bytes": 0, "peak_exec_mem_bytes": 0}
    j.update(fields)
    return j


def op(index, kind, t0, t1, error=None, traced=False, cls="c", commits=0, counters=None):
    return {"index": index, "kind": kind, "class": cls, "round": 0, "traced": traced,
            "t0": t0, "t1": t1, "error": error, "commits": commits,
            "counters": counters or {}}


class PercentileRule(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(b.percentile(xs, 0.5), 50)
        self.assertEqual(b.percentile(xs, 0.9), 90)
        self.assertEqual(b.percentile(xs, 0.99), 99)
        self.assertEqual(b.percentile([7.0], 0.5), 7.0)

    def test_highest_percentile_with_ten_beyond(self):
        # 19 samples: the median has 9 beyond it, too few for any level
        self.assertIsNone(b.tail_level(19))
        self.assertEqual(b.tail_level(20), 0.5)
        self.assertEqual(b.tail_level(40), 0.75)
        # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
        self.assertEqual(b.tail_level(100), 0.9)
        self.assertEqual(b.tail_level(199), 0.9)
        self.assertEqual(b.tail_level(200), 0.95)
        self.assertEqual(b.tail_level(1000), 0.99)
        for n in (20, 57, 100, 333, 10000):
            q = b.tail_level(n)
            self.assertGreaterEqual(b.samples_beyond(n, q), b.MIN_BEYOND)

    def test_p90_reported_only_with_100_ops(self):
        ops = [op(i, "k", 0, 0.01 * (i + 1)) for i in range(99)]
        raw = {"ops": ops, "loop_s": 5.0, "setup": [{"s": 1.0, "parts": {}}],
               "space": {"disk_bytes": 2, "live_bytes": 1}, "heap_mb": 10.0}
        _, extra, _ = b.end_to_end(raw)
        self.assertNotIn("p90_s", extra["latency"]["all"])
        raw["ops"].append(op(99, "k", 0, 1.0))
        _, extra, _ = b.end_to_end(raw)
        self.assertAlmostEqual(extra["latency"]["all"]["p90_s"], 0.9)
        self.assertEqual(extra["latency"]["all"]["tail"]["percentile"], 90)


class SelfTime(unittest.TestCase):

    def test_no_children(self):
        self.assertAlmostEqual(b.self_time(span(1, 0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        kids = [span(2, 1, 4), span(3, 3, 6), span(4, 8, 9)]
        # covered: [1, 6] and [8, 9] = 6 of 10
        self.assertAlmostEqual(b.self_time(span(1, 0, 10), kids), 4)

    def test_nested_and_outlasting_children_are_clipped(self):
        kids = [span(2, 2, 5), span(3, 3, 4), span(4, 9, 14), span(5, -3, 1)]
        # covered inside [0, 10]: [0, 1], [2, 5], [9, 10] = 5
        self.assertAlmostEqual(b.self_time(span(1, 0, 10), kids), 5)

    def test_jobs_are_children(self):
        parent = span(1, 0, 10, layer="op")
        child = span(2, 1, 9, parent=1, layer="commit")
        tr = b.Trace([parent, child], [job(7, 2, 2, 5), job(8, 2, 4, 6)])
        self.assertAlmostEqual(tr.self_time(child), 8 - 4)
        self.assertAlmostEqual(tr.self_time(parent), 2)


class JobAttribution(unittest.TestCase):

    def test_job_goes_to_the_span_named_in_its_property(self):
        spans = [span(1, 0, 10, layer="op"), span(2, 1, 5, parent=1), span(3, 5, 9, parent=1)]
        owner = b.attribute_jobs(spans, [job(1, 2, 2, 3), job(2, 3, 6, 8)])
        self.assertEqual(owner, {1: 2, 2: 3})

    def test_inner_span_wins_over_its_parent(self):
        spans = [span(1, 0, 10, layer="op"), span(2, 1, 5, parent=1), span(3, 2, 4, parent=2)]
        # the property names the innermost open span at submission
        self.assertEqual(b.attribute_jobs(spans, [job(1, 3, 2.5, 3)]), {1: 3})

    def test_stale_property_falls_back_to_the_span_open_at_submission(self):
        # a pool thread created during span 2 still carries its id later
        spans = [span(1, 0, 20, layer="op"), span(2, 1, 3, parent=1),
                 span(3, 10, 15, parent=1), span(4, 11, 12, parent=3)]
        self.assertEqual(b.attribute_jobs(spans, [job(1, 2, 11.5, 11.8)]), {1: 4})

    def test_job_outside_every_span_is_unattributed(self):
        spans = [span(1, 0, 1, layer="op")]
        self.assertEqual(b.attribute_jobs(spans, [job(1, None, 5, 6)]), {1: None})

    def test_millisecond_event_times_get_slack(self):
        spans = [span(1, 0, 10, layer="op"), span(2, 1.0004, 5, parent=1)]
        # the job event's millisecond clock reads just before the span start
        self.assertEqual(b.attribute_jobs(spans, [job(1, 2, 1.0, 2)]), {1: 2})

    def test_per_layer_counts_jobs_under_their_layer(self):
        spans = [span(1, 0, 10, op=0, layer="op", name="append"),
                 span(2, 1, 9, parent=1, op=0, layer="commit", name="GraftWriter.write")]
        raw = {"spans": spans, "jobs": [job(1, 2, 2, 4), job(2, 2, 5, 6)],
               "ops": [op(0, "append", 0, 10, traced=True, cls="commit", commits=1)],
               "setup": [{"s": 1.0, "parts": {}}]}
        m = b.per_layer(raw)
        self.assertEqual(m["commit.jobs_per_commit"][0], 2)
        self.assertAlmostEqual(m["commit.job_s_per_commit"][0], 3)
        self.assertAlmostEqual(m["commit.driver_s_per_commit"][0], 5)
        self.assertAlmostEqual(m["exec.job_wall_s"][0], 3)
        self.assertAlmostEqual(m["trace.coverage"][0], 0.8)


class FailureCounting(unittest.TestCase):

    def setUp(self):
        self.ops = [op(0, "a", 0, 1), op(1, "b", 1, 1.001, error="E1: boom"),
                    op(2, "a", 2, 3), op(3, "b", 3, 3.001, error="E2: later"),
                    op(4, "a", 4, 4.5, error="E3: other kind")]

    def test_counts_and_first_error_per_kind(self):
        attempted, failed, first = b.failures(self.ops)
        self.assertEqual((attempted, failed), (5, 3))
        self.assertEqual(first, {"b": "E1: boom", "a": "E3: other kind"})

    def test_a_failure_misses_every_latency_limit(self):
        lat = b.latencies(self.ops)
        self.assertEqual(sum(math.isinf(x) for x in lat), 3)
        # three of five failed: the median is a failure, never the fast
        # 1 ms the failed ops took
        self.assertTrue(math.isinf(b.percentile(lat, 0.5)))

    def test_failures_leave_throughput_and_report_a_capped_latency(self):
        raw = {"ops": self.ops, "loop_s": 5.0, "setup": [{"s": 1.0, "parts": {}}],
               "space": {"disk_bytes": 2, "live_bytes": 1}, "heap_mb": 10.0}
        metrics, extra, counts = b.end_to_end(raw)
        self.assertEqual(counts, (5, 3))
        self.assertAlmostEqual(extra["failed_ops_ratio"], 0.6)
        self.assertAlmostEqual(metrics["throughput_ops_s"][0], 2 / 5.0)
        self.assertEqual(metrics["latency_p50_s"][0], 5.0)


class TracingOverhead(unittest.TestCase):

    def test_kind_by_kind_ratio_of_medians(self):
        ops = [op(0, "a", 0, 1.1, traced=True), op(1, "b", 0, 2.2, traced=True),
               op(2, "a", 0, 1.0), op(3, "b", 0, 2.0), op(4, "c", 0, 9, traced=True)]
        # kind c never ran untraced and is left out
        self.assertAlmostEqual(b.overhead_ratio(ops), (1.1 + 2.2) / 3.0 - 1)


if __name__ == "__main__":
    unittest.main()
