"""Tests for the benchmark's own arithmetic, plus an end-to-end smoke.

  python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke runs every workload on the sf0.001 inputs. It builds the
program and generates its inputs on first use, so it is opt-in:

  PERFBENCH_SMOKE=1 python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(1000)))[1], 99.0)
        self.assertEqual(metrics.tail(list(range(200)))[1], 95.0)
        self.assertEqual(metrics.tail(list(range(100)))[1], 90.0)
        self.assertEqual(metrics.tail(list(range(40)))[1], 75.0)
        self.assertEqual(metrics.tail(list(range(39)))[1], 50.0)

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (2.0, 50.0))
        self.assertEqual(metrics.tail([]), (0.0, 50.0))

    def test_value_is_the_interpolated_percentile(self):
        xs = list(range(101))   # p90 of 0..100 is exactly 90
        self.assertEqual(metrics.tail(xs), (90.0, 90.0))


class UnionTest(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_length([(0, 100), (10, 20)]), 100)
        self.assertEqual(metrics.union_length([(20, 30), (0, 10)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (10, 20)]), 20)
        self.assertEqual(metrics.union_length([]), 0)


def span(i, parent, name, start, end):
    return {"kind": "span", "id": i, "parent": parent, "name": name,
            "start": start, "end": end}


def job(i, start_ms, end_ms):
    return [{"kind": "job_start", "job": i, "t": start_ms, "desc": ""},
            {"kind": "job_end", "job": i, "t": end_ms, "ok": True}]


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "a", 10, 20),
                 span(3, 1, "b", 15, 30), span(4, 1, "c", 50, 60),
                 span(5, 2, "d", 12, 14)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 30)
        self.assertEqual(st[2], 10 - 2)
        self.assertEqual(st[5], 2)

    def test_jobs_go_to_the_innermost_span_holding_their_start(self):
        spans = [span(1, 0, "op", 0, 100_000), span(2, 1, "entry.build", 0, 40_000),
                 span(3, 1, "operators.action", 40_000, 100_000)]
        jobs = [{"id": 7, "start": 10_000}, {"id": 8, "start": 40_001},
                {"id": 9, "start": 200_000}]
        self.assertEqual(metrics.attribute(jobs, spans), {7: 2, 8: 3, 9: None})

    def test_attribution_ignores_threads(self):
        # a job started on a pooled thread still falls inside the verb's
        # window; nothing but its start time decides
        spans = [span(1, 0, "graft_table.merge_into", 0, 50_000)]
        self.assertEqual(metrics.attribute([{"id": 1, "start": 49_999}], spans), {1: 1})


class DriverGapTest(unittest.TestCase):
    def records(self):
        recs = [span(1, 0, "pass", 0, 1_000_000), span(2, 1, "op", 0, 1_000_000),
                span(3, 2, "entry.build", 0, 200_000),
                span(4, 2, "operators.action", 200_000, 1_000_000),
                {"kind": "pass", "pass": 1, "traced": True, "start": 0, "end": 1_000_000},
                {"kind": "pass", "pass": 0, "traced": False, "start": 0, "end": 800_000}]
        recs += job(1, 100, 300)      # during build, 200 ms
        recs += job(2, 400, 700)      # action jobs overlap: union 400..800
        recs += job(3, 500, 800)
        for j in (1, 2, 3):
            recs.append({"kind": "stage", "stage": j, "attempt": 0, "job": j,
                         "submit": 0, "complete": 0, "tasks": 4, "failed_tasks": 0,
                         "run_ms": 400, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
                         "shuffle_read": 0, "spill": 0, "in_bytes": 1 << 20,
                         "in_rows": 100, "out_rows": 10, "task_max_ms": 200,
                         "task_median_ms": 100, "wait_ms": 0})
        return recs

    def test_gap_is_wall_minus_job_union(self):
        m = metrics.per_layer(self.records(), cores=4)
        self.assertAlmostEqual(m["operators.job_s"], 0.6)          # 200 + 400 ms
        self.assertAlmostEqual(m["operators.driver_gap_s"], 0.4)
        self.assertEqual(m["operators.jobs"], 3)
        self.assertEqual(m["entry.build_jobs"], 1)
        self.assertAlmostEqual(m["entry.build_s"], 0.2)
        self.assertAlmostEqual(m["entry.build_share"], 0.2)
        self.assertAlmostEqual(m["operators.slot_busy_ratio"], 1.2 / (0.6 * 4))
        self.assertAlmostEqual(m["operators.max_stage_skew"], 2.0)
        self.assertAlmostEqual(m["tables.rows_scanned_per_row_out"], 10.0)
        self.assertAlmostEqual(m["trace.accounted_ratio"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.25)
        self.assertEqual(m["graft_table.merge_into_s"], 0.0)      # idle layer

    def test_every_per_layer_metric_is_reported(self):
        m = metrics.per_layer(self.records(), cores=4)
        self.assertEqual(sorted(m), sorted(metrics.PER_LAYER_NAMES))


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_lists_match_the_benchmark_file(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                            "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json not present")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], metrics.PER_LAYER)


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE"), "set PERFBENCH_SMOKE=1")
class SmokeTest(unittest.TestCase):
    def test_every_workload_on_tiny_inputs(self):
        here = os.path.dirname(os.path.abspath(__file__))
        for wl in ("query", "table_write"):
            for trace in (0, 1):
                p = subprocess.run(
                    [sys.executable, os.path.join(here, "run.py"), "--workload", wl,
                     "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
                    cwd=os.path.dirname(here), capture_output=True, text=True)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                out = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertTrue(out["correct"], p.stderr[-3000:])
                self.assertEqual(out["failed"], 0)
                names = metrics.PER_LAYER_NAMES if trace else [n for n, _ in metrics.END_TO_END]
                self.assertEqual(sorted(out["metrics"]), sorted(names))


if __name__ == "__main__":
    unittest.main()
