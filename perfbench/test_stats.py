"""Self-tests of the benchmark's arithmetic: the quantile estimate and the
sample-count rule, span self time, the per-layer reduction of a small
hand-made trace, and the agreement of BENCHMARK.json with the metrics
run.py prints.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import unittest
from pathlib import Path

import run
import stats


class Percentiles(unittest.TestCase):
    def test_median_and_p90(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        self.assertAlmostEqual(stats.percentile(xs, 0.5), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 90.5, places=6)
        self.assertAlmostEqual(stats.percentile([3.0, 1.0, 2.0], 0.5), 2.0)

    def test_edges(self):
        self.assertEqual(stats.percentile([], 0.9), 0.0)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)
        self.assertEqual(stats.percentile([1.0, 2.0], 1.0), 2.0)

    def test_smooth_across_a_gap(self):
        # six fast and six slow ops: the estimate sits between them, and
        # one more fast op moves it part of the way, not to the fast side
        even = [0.1] * 6 + [0.5] * 6
        self.assertAlmostEqual(stats.percentile(even, 0.5), 0.3)
        odd = stats.percentile(even + [0.1], 0.5)
        self.assertTrue(0.1 < odd < 0.3, odd)

    def test_beta_cdf(self):
        def integral(x, a, b, steps=20000):
            h = x / steps
            area = sum(((k + 0.5) * h) ** (a - 1) * (1 - (k + 0.5) * h) ** (b - 1)
                       for k in range(steps)) * h
            return area * math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b))
        for x, a, b in [(0.4, 2, 3), (0.3, 12.5, 12.5), (0.55, 24.5, 24.5), (0.9, 9.9, 1.1)]:
            self.assertAlmostEqual(stats.beta_cdf(x, a, b), integral(x, a, b), places=6)

    def test_sample_count_rule(self):
        # p90 needs ten samples beyond it: 100 samples
        self.assertEqual(stats.samples_needed(0.9), 100)
        self.assertEqual(stats.samples_needed(0.5), 20)
        self.assertTrue(stats.supported(100, 0.9))
        self.assertFalse(stats.supported(99, 0.9))

    def test_highest_supported(self):
        self.assertEqual(stats.highest_supported(100), 0.90)
        self.assertEqual(stats.highest_supported(48), 0.79)
        self.assertEqual(stats.highest_supported(20), 0.50)
        self.assertIsNone(stats.highest_supported(19))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(1, 3), (2, 5), (7, 8)], 0, 10), 5)
        self.assertEqual(stats.union_length([(-5, 2), (9, 20)], 0, 10), 3)
        self.assertEqual(stats.union_length([], 0, 10), 0)

    def test_self_time(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 5)]), 6)
        self.assertEqual(stats.self_time((0, 10), [(0, 10), (3, 4)]), 0)
        self.assertEqual(stats.self_time((0, 10), []), 10)


def tiny_trace():
    """One traced op: build 0-10 ms with a schema job, action 10-110 ms with
    one plan record and one job of one two-task stage."""
    return {
        "cores": 2,
        "samples": [
            {"op": "q", "pass": 1, "index": 0, "lat": 0.11, "traced": True, "ok": True,
             "returned": 5},
            {"op": "q", "pass": 0, "index": 0, "lat": 0.10, "traced": False, "ok": True,
             "returned": -1},
        ],
        "trace_records": {
            "spans": [
                {"id": "1.0", "parent": "", "op": "q", "kind": "op", "start": 0.0, "end": 110.0},
                {"id": "1.0:build", "parent": "1.0", "op": "q", "kind": "build",
                 "start": 0.0, "end": 10.0},
                {"id": "1.0:action", "parent": "1.0", "op": "q", "kind": "action",
                 "start": 10.0, "end": 110.0},
            ],
            "phases": [
                {"analysis_start": 11.0, "analysis_end": 12.0, "optimization_start": 12.0,
                 "optimization_end": 15.0, "planning_start": 15.0, "planning_end": 20.0},
                {"analysis_start": 500.0, "analysis_end": 501.0},  # untraced action
            ],
            "jobs": [
                {"job": 0, "start": 2.0, "end": 8.0, "span": "1.0:build", "stages": [0]},
                {"job": 1, "start": 20.0, "end": 100.0, "span": "1.0:action", "stages": [1]},
            ],
            "stages": [
                {"stage": 0, "start": 3.0, "end": 7.0, "tasks": 1,
                 "name": "parquet at Tables.scala:14"},
                {"stage": 1, "start": 30.0, "end": 90.0, "tasks": 2,
                 "name": "save at Workloads.scala:105"},
            ],
            "tasks": [
                {"stage": 0, "start": 3.0, "end": 7.0, "run_ms": 4, "cpu_ns": 4000000,
                 "gc_ms": 0, "in_bytes": 10, "in_rows": 1, "shuffle_write": 0,
                 "shuffle_read": 0, "spill": 0},
                {"stage": 1, "start": 30.0, "end": 90.0, "run_ms": 60, "cpu_ns": 50000000,
                 "gc_ms": 1, "in_bytes": 1000, "in_rows": 40, "shuffle_write": 7,
                 "shuffle_read": 0, "spill": 0},
                {"stage": 1, "start": 30.0, "end": 60.0, "run_ms": 30, "cpu_ns": 30000000,
                 "gc_ms": 0, "in_bytes": 500, "in_rows": 10, "shuffle_write": 3,
                 "shuffle_read": 0, "spill": 0},
            ],
        },
    }


class TraceLayers(unittest.TestCase):
    def test_counts_and_times(self):
        m = stats.trace_layers(tiny_trace())
        self.assertAlmostEqual(m["build.wall_s"], 0.010)
        self.assertAlmostEqual(m["build.share"], 10 / 110)
        self.assertEqual(m["build.jobs"], 1)
        self.assertEqual(m["build.schema_jobs"], 1)
        self.assertEqual(m["plan.actions"], 1)
        self.assertAlmostEqual(m["plan.analysis_ms"], 1.0)
        self.assertAlmostEqual(m["plan.planning_ms"], 5.0)
        self.assertEqual(m["sched.jobs"], 2)
        self.assertEqual(m["sched.tasks_per_stage"], 1.5)
        # action 10..110 with tasks covering 30..90
        self.assertAlmostEqual(m["sched.gap_s"], 0.040)
        self.assertAlmostEqual(m["exec.task_run_s"], 0.094)
        self.assertAlmostEqual(m["exec.core_util"], 90 / (2 * 100))
        self.assertAlmostEqual(m["exec.straggler_share"], 1.0)
        self.assertEqual(m["io.scan_rows"], 51)
        self.assertEqual(m["io.shuffle_write_bytes"], 10)
        # 50 rows scanned by the action's tasks (and 1 by the build's) for 5 returned
        self.assertAlmostEqual(m["log.rows_scanned_per_row_returned"], 51 / 5)

    def test_trace_overhead(self):
        def s(op, lat, traced, ok=True):
            return {"op": op, "lat": lat, "traced": traced, "ok": ok}
        samples = [s("a", 0.3, True), s("a", 0.2, False), s("a", 9.0, True, ok=False),
                   s("b", 1.0, True), s("b", 1.0, False), s("c", 5.0, True)]
        # a: 1.5, b: 1.0; c has no untraced run
        self.assertAlmostEqual(stats.trace_overhead(samples), 1.25)
        self.assertEqual(stats.trace_overhead([s("c", 5.0, True)]), 0.0)

    def test_self_times(self):
        m = stats.trace_layers(tiny_trace())
        self.assertAlmostEqual(m["self.op_s"], 0.0)
        # build 10 ms minus its job 2..8
        self.assertAlmostEqual(m["self.build_s"], 0.004)
        # action 100 ms minus the union of plan 11..20 and job 20..100
        self.assertAlmostEqual(m["self.action_s"], 0.011)
        self.assertAlmostEqual(m["self.plan_s"], 0.009)
        # jobs 6 + 80 ms minus stages 4 + 60 ms
        self.assertAlmostEqual(m["self.job_s"], 0.022)
        self.assertAlmostEqual(m["self.stage_s"], 0.064)


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_run_py(self):
        spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertTrue(set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
