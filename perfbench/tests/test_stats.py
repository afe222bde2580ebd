"""Self-tests for the benchmark's arithmetic, on synthetic inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        values = list(range(1, 101))
        self.assertEqual(stats.tail(values), (90.0, 90, 100))

    def test_small_sample_steps_down(self):
        # 25 samples: p70 leaves 7 beyond, p60 leaves 10
        pct, value, n = stats.tail(list(range(1, 26)))
        self.assertEqual((pct, value, n), (60.0, 15, 25))

    def test_too_few_samples_report_the_median(self):
        # 19 samples: even the median leaves only 9 beyond
        self.assertEqual(stats.tail(list(range(19, 0, -1))), (50.0, 10, 19))
        self.assertEqual(stats.tail([]), (50.0, 0.0, 0))

    def test_order_does_not_matter(self):
        values = [5.0] * 50 + [1.0] * 50
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))
        self.assertEqual(stats.tail(values)[1], 5.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(stats.union_length(
            [(0, 10), (5, 15), (6, 7), (20, 25)]), 20)

    def test_union_of_nothing(self):
        self.assertEqual(stats.union_length([]), 0.0)

    def test_self_time_subtracts_the_children_union(self):
        span = {"start": 0, "end": 10}
        children = [{"start": 1, "end": 3}, {"start": 2, "end": 5},
                    {"start": 8, "end": 12}]
        # covered inside the span: [1, 5] and [8, 10]
        self.assertEqual(stats.self_time(span, children), 4)

    def test_driver_gap_is_wall_not_covered_by_jobs(self):
        query = {"start": 0, "end": 100}
        jobs = [(10, 20), (15, 30), (50, 60), (120, 130)]
        self.assertEqual(stats.uncovered(query, jobs), 70)


class TaskTest(unittest.TestCase):
    def test_empty_task_fraction(self):
        jobs = [{"tasks": 4, "empty_tasks": 1}, {"tasks": 6, "empty_tasks": 3}]
        self.assertAlmostEqual(stats.empty_task_frac(jobs), 0.4)

    def test_no_tasks(self):
        self.assertEqual(stats.empty_task_frac([]), 0.0)


class AttachTest(unittest.TestCase):
    spans = [{"id": 0, "start": 0, "end": 100},
             {"id": 1, "start": 10, "end": 50},
             {"id": 2, "start": 10, "end": 20}]

    def test_innermost_containing_span(self):
        jobs = [{"start": 15}, {"start": 30}, {"start": 60}, {"start": 150}]
        self.assertEqual(stats.attach(jobs, self.spans), [2, 1, 0, None])

    def test_slack_for_millisecond_clocks(self):
        self.assertEqual(stats.attach([{"start": 50.5}], self.spans), [0])
        self.assertEqual(
            stats.attach([{"start": 50.5}], self.spans, slack=1.0), [1])


def span(sid, kind, name, start, end, parent, **extra):
    return dict(id=sid, kind=kind, name=name, start=start, end=end,
                parent=parent, **extra)


def job(job_id, start, end, tasks=1, empty=0):
    return {"job_id": job_id, "start": start, "end": end, "stages": 1,
            "tasks": tasks, "empty_tasks": empty, "task_ms": 4 * (end - start),
            "gc_ms": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "disk_spill_bytes": 0}


class LayerTest(unittest.TestCase):
    """One traced pass of one query: a construct job, two execute jobs."""

    raw = {"spans": [
        span(0, "workload", "w", 0, 2000, -1),
        span(1, "pass", "pass-0", 0, 1000, 0, traced=True),
        span(2, "query", "q", 0, 1000, 1),
        span(3, "construct", "q", 0, 300, 2),
        span(4, "plan", "q", 300, 400, 2),
        span(5, "execute", "q", 400, 1000, 2),
    ], "jobs": [job(0, 100, 200), job(1, 500, 700, tasks=4, empty=2),
                job(2, 600, 900, tasks=4)]}

    def test_layers(self):
        spans = metrics.tree(self.raw)
        got = metrics.per_layer(spans, "batch", 4, [
            "operators.construct_s", "operators.construct_jobs",
            "catalyst.plan_s", "execution.run_s", "execution.jobs",
            "execution.tasks", "execution.job_busy_s",
            "execution.driver_gap_s", "execution.empty_task_frac",
            "execution.task_busy_frac", "streaming.batches"])
        self.assertEqual(got["operators.construct_s"], 0.3)
        self.assertEqual(got["operators.construct_jobs"], 1)
        self.assertEqual(got["catalyst.plan_s"], 0.1)
        self.assertEqual(got["execution.run_s"], 0.6)
        self.assertEqual(got["execution.jobs"], 2)
        self.assertEqual(got["execution.tasks"], 8)
        self.assertEqual(got["execution.job_busy_s"], 0.4)
        # 1000 ms of query wall, 100 + 400 ms of it under some job
        self.assertEqual(got["execution.driver_gap_s"], 0.5)
        self.assertEqual(got["execution.empty_task_frac"], 0.25)
        # 4 * (200 + 300) ms of task time over 4 cores * 600 ms
        self.assertAlmostEqual(got["execution.task_busy_frac"], 2000 / 2400)
        self.assertEqual(got["streaming.batches"], 0.0)

    def test_self_times_by_kind(self):
        got = metrics.self_times(metrics.tree(self.raw))
        # construct 300 ms minus its 100 ms job; execute 600 ms minus the
        # 400 ms its two overlapping jobs cover; the query and the pass
        # are fully covered by their children
        self.assertEqual(got["construct"], 0.2)
        self.assertEqual(got["execute"], 0.2)
        self.assertEqual(got["plan"], 0.1)
        self.assertEqual(got["query"], 0.0)
        self.assertEqual(got["pass"], 0.0)
        self.assertAlmostEqual(got["job"], 0.6)



class IngestEndToEndTest(unittest.TestCase):
    """One timed ingest pass: rates count the rows the micro-batches
    read, not the rows the backlog was meant to hold."""

    def batch(self, phase, rows, ms, pass_=0):
        return {"pass": pass_, "phase": phase, "rows": rows,
                "duration_ms": {"triggerExecution": ms}}

    raw = {"spans": [
        span(0, "workload", "w", 0, 9000, -1),
        span(1, "pass", "pass--1", 0, 1000, 0, cpu_ms=0),
        span(2, "pass", "pass-0", 1000, 5000, 0, cpu_ms=3000),
        span(3, "phase", "fresh", 1000, 3000, 2, cpu_ms=1000),
        span(4, "phase", "replay", 3000, 4000, 2, cpu_ms=500),
    ]}

    def test_rates_and_batches(self):
        raw = dict(self.raw, batches=[
            self.batch("fresh", 600, 900), self.batch("fresh", 400, 700),
            self.batch("fresh", 0, 50),
            self.batch("replay", 300, 400),
            self.batch("fresh", 999, 1, pass_=-1)])
        walls, cpus, batch_s, rates = metrics.end_to_end(raw, "ingest")
        self.assertEqual(walls, [3.0])
        self.assertEqual(cpus, [1.5])
        # empty micro-batches and untimed passes are left out
        self.assertEqual(batch_s, [0.9, 0.7, 0.4])
        # 1000 rows read in 2 s; a replay that read only 300 rows in 1 s
        # reports 300 rows/s
        self.assertEqual(rates, {"fresh": [500.0], "replay": [300.0]})

    def test_peak_heap_is_the_largest_probe(self):
        raw = {"heap_probes": [{"op": "a", "heap_mb": 120.5},
                               {"op": "b", "heap_mb": 97.0}]}
        self.assertEqual(metrics.peak_heap_mb(raw), 120.5)


if __name__ == "__main__":
    unittest.main()
