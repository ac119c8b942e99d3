"""Self-test of the benchmark's own machinery; needs no Spark session.

    python3 eobench/selftest.py

testdata/ holds a small event log recorded from a local[2] session and the
spans the benchmark's tracer opened around it: one job outside any span,
then span ``op.demo`` (an aggregation: two jobs) with a child span
``child`` (a sleeping mapInPandas over two partitions).  The log was cut
down to the job-start, stage-submitted and task-end fields the parser reads.
"""

from __future__ import annotations

import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from stats import error_rate, idle_time, self_time, tail_percentile, union_length  # noqa: E402
from tracing import NullTracer, Span, Tracer, parse_event_log, span_cost  # noqa: E402

DATA = HERE / "testdata"


def recorded():
    with (DATA / "events.jsonl").open() as fh:
        log = parse_event_log(fh)
    tracer = Tracer(sc=None)
    tracer.spans = [Span(**s) for s in json.loads((DATA / "spans.json").read_text())]
    return log, tracer


class EventLogTest(unittest.TestCase):
    def test_jobs_and_groups(self):
        log, _ = recorded()
        self.assertEqual(log.jobs, {0: None, 1: None, 2: "eob-0", 3: "eob-0", 4: "eob-1"})
        self.assertEqual(log.stage_group[3], "eob-0")
        self.assertEqual(log.stage_group[5], "eob-0")
        self.assertEqual(log.stage_group[6], "eob-1")
        self.assertIsNone(log.stage_group[0])
        self.assertEqual(len(log.tasks), 10)
        self.assertIn("MapInPandas", log.stage_scopes[6])
        self.assertNotIn("MapInPandas", log.stage_scopes[3])

    def test_join_to_spans(self):
        log, tracer = recorded()
        op, child = tracer.spans
        c = span_cost(tracer, log, op)  # includes the child's job
        self.assertEqual((c.jobs, c.tasks), (3, 7))
        self.assertAlmostEqual(c.task_s, 0.408 + 0.056 + 3.816, places=6)
        self.assertEqual((c.shuffle_write, c.shuffle_read), (535, 535))
        # tasks run [132.394, 132.598], [132.737, 132.793], [133.364, 135.289]
        self.assertAlmostEqual(c.idle_s, op.end - op.start - 2.185, places=6)
        self.assertEqual(c.failed_tasks, 0)
        k = span_cost(tracer, log, child)
        self.assertEqual((k.jobs, k.tasks), (1, 2))
        self.assertAlmostEqual(k.task_s, 3.816, places=6)
        self.assertAlmostEqual(tracer.self_time(op), op.wall - child.wall, places=9)

    def test_jobs_outside_spans_are_not_attributed(self):
        log, tracer = recorded()
        attributed = sum(span_cost(tracer, log, s).tasks for s in tracer.spans if s.parent is None)
        self.assertEqual(attributed, len(log.tasks) - 3)


class ArithmeticTest(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(union_length([(-5, 1), (9, 20)], 0, 10), 2)
        self.assertEqual(union_length([(3, 4), (3, 4), (3.5, 3.6)], 0, 10), 1)
        self.assertEqual(union_length([(11, 12)], 0, 10), 0)
        self.assertEqual(union_length([], 0, 10), 0)

    def test_self_and_idle_time(self):
        # children overlap each other and stick out of the span
        self.assertEqual(self_time(0, 10, [(1, 4), (3, 6), (9, 12)]), 4)
        self.assertEqual(idle_time(0, 10, []), 10)
        self.assertEqual(idle_time(0, 10, [(0, 10), (2, 3)]), 0)

    def test_tail_percentile_needs_ten_beyond(self):
        self.assertIsNone(tail_percentile(19))
        self.assertEqual(tail_percentile(20), 50)
        self.assertEqual(tail_percentile(39), 50)
        self.assertEqual(tail_percentile(40), 75)
        self.assertEqual(tail_percentile(99), 75)
        self.assertEqual(tail_percentile(100), 90)
        self.assertEqual(tail_percentile(200), 95)
        self.assertEqual(tail_percentile(1000), 99)
        self.assertEqual(tail_percentile(10000), 99.9)


class FakeWorkload:
    """Operations that succeed, raise, or return a wrong answer, in turn."""

    tracer = NullTracer()

    def __init__(self):
        self.n = 0

    def next_op(self):
        self.n += 1
        fate = ("ok", "raise", "wrong")[(self.n - 1) % 3]

        def op_run():
            if fate == "raise":
                raise RuntimeError("task failed")
            return fate, {}

        def check(out):
            if out == "wrong":
                raise AssertionError("oracle mismatch")

        return "knn", op_run, check


class FailureCountTest(unittest.TestCase):
    def test_failed_and_wrong_ops_count(self):
        import contextlib
        import io

        results = []
        wl = FakeWorkload()
        with contextlib.redirect_stderr(io.StringIO()):
            for _ in range(6):
                batch = run.timed_loop(wl, 0)
                self.assertEqual(len(batch), 1)  # a zero-second loop runs one op
                results += batch
        self.assertEqual([r[2] for r in results], [True, False, False] * 2)
        lines, metrics = run.report("query", results, 1.0)
        self.assertIn("op_error_rate 0.6667 ratio n=6", lines)
        self.assertAlmostEqual(error_rate(6, 4), 4 / 6)
        self.assertEqual(set(metrics), {"setup_s", "op_p50_s"})


if __name__ == "__main__":
    unittest.main()
