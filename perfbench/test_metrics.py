"""Tests of the benchmark's own arithmetic on synthetic inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def op(i, start, end, ok=True, traced=True, kind="query", name=None, **kw):
    return dict(id=i, kind=kind, name=name or f"q{i}", start=start, end=end, ok=ok,
                error=None if ok else "boom", traced=traced,
                persisted_rdds=0, live_heap_mb=10.0, **kw)


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertFalse(metrics.reportable(99, 0.9))
        self.assertTrue(metrics.reportable(100, 0.9))
        self.assertEqual(metrics.tail_count(100, 0.9), 10)

    def test_median_of_small_runs(self):
        self.assertTrue(metrics.reportable(20, 0.5))
        self.assertFalse(metrics.reportable(19, 0.5))
        self.assertFalse(metrics.reportable(0, 0.5))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.quantile(xs, 0.9), 90)
        self.assertEqual(metrics.quantile([5.0], 0.5), 5.0)


class Coverage(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # two pool threads building at once: [2, 6) and [4, 8) cover 6 of 10
        self.assertEqual(metrics.self_time((0, 10), [(2, 6), (4, 8)]), 4)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 1), (9, 20)]), 8)

    def test_nested_and_empty_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 9), (2, 3), (5, 5)]), 2)
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_idle_gap_is_op_time_without_a_job(self):
        self.assertEqual(metrics.idle_gap((100, 200), [(110, 150), (140, 160), (190, 250)]), 40)


class Failures(unittest.TestCase):
    def test_failed_ops_are_counted_named_and_not_timed(self):
        ops = [op(0, 0, 1000), op(1, 1000, 1010, ok=False, name="x93"), op(2, 1010, 3010)]
        acc = metrics.account(ops)
        self.assertEqual((acc["attempted"], acc["failed"]), (3, 1))
        self.assertEqual(acc["samples_s"], [1.0, 2.0])
        self.assertEqual(acc["failed_ops"], ["x93: boom"])

    def test_end_to_end_excludes_failures_from_latency(self):
        ops = [dict(op(0, 0, 1000), **{"pass": 0}), dict(op(1, 1000, 1001, ok=False), **{"pass": 0}),
               dict(op(2, 1001, 4001), **{"pass": 0})]
        acc, e2e = metrics.end_to_end({"ops": ops, "retained_heap_mb": 50.0},
                                      {"kind": "batch", "passes": 1})
        self.assertEqual(acc["failed"], 1)
        self.assertEqual(e2e["op_p50_s"], 2.0)
        self.assertAlmostEqual(e2e["total_s"], 4.0)  # per-query medians, failures left out


class Layers(unittest.TestCase):
    def record(self):
        ops = [op(0, 1000, 2000), op(1, 2000, 3000, traced=False)]
        spans = [
            dict(id=0, parent=-1, op=0, name="op", start=1000, end=2000),
            dict(id=1, parent=0, op=0, name="operators.run", start=1000, end=1400),
            dict(id=2, parent=0, op=0, name="sink", start=1400, end=2000),
        ]
        task = dict(stage=0, launch=1500, finish=1700, ok=True, getting_result_ms=0, run_ms=150,
                    cpu_ns=10 ** 8, gc_ms=5, deser_ms=10, ser_ms=0, in_bytes=1 << 20, in_records=7)
        trace = {
            # one eager job inside run, one sink job, one job of the untraced op
            "jobs": [dict(id=0, start=1100, end=1300, ok=True), dict(id=1, start=1500, end=1800, ok=True),
                     dict(id=2, start=2100, end=2900, ok=True)],
            "tasks": [task, dict(task, launch=2100, finish=2200)],
            "stages": [dict(id=0, tasks=1, start=1500, end=1800)],
            "executions": [dict(start=1450, ok=True, analysis_ms=1, optimization_ms=20, planning_ms=30)],
            "stream_progress": [],
        }
        return {"ops": ops, "spans": spans, "trace": trace, "cores": 4, "extra": {}}

    def test_layer_sums_use_traced_ops_only(self):
        m = metrics.layers(self.record())
        self.assertEqual(m["scheduler.jobs"], 2)
        self.assertEqual(m["operators.eager_jobs"], 1)
        self.assertAlmostEqual(m["operators.run_s"], 0.2)   # 400 ms run minus its 200 ms job
        self.assertAlmostEqual(m["driver.idle_gap_s"], 0.5)  # 1000 ms op minus 500 ms of jobs
        self.assertAlmostEqual(m["scheduler.delay_s"], 0.04)
        self.assertEqual(m["scheduler.tasks"], 1)
        self.assertAlmostEqual(m["io.read_mb"], 1.0)
        self.assertAlmostEqual(m["catalyst.planning_s"], 0.03)
        self.assertAlmostEqual(m["executor.busy_frac"], 0.15 / 4)
        self.assertEqual(set(m), set(metrics.LAYER_UNITS))

    def test_overhead_compares_traced_with_untraced(self):
        ops = [op(0, 0, 1100, traced=True), op(1, 1100, 2100, traced=False)]
        self.assertAlmostEqual(metrics.overhead({"ops": ops}), 0.1)


if __name__ == "__main__":
    unittest.main()
