"""Tests of the benchmark's helpers.

    python3 -m unittest discover -s perfbench/tests

The percentile rule and the span arithmetic are tested directly; the
open-loop clock lives in the JVM and is checked by running
graftbench.SelfTest (this builds the benchmark first if it is not built).
"""
import math
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import build  # noqa: E402
from benchlib import report, stats  # noqa: E402
from benchlib.spans import Tree, union_length  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(xs, 90), 90)
        self.assertEqual(stats.nearest_rank(xs, 95), 95)
        self.assertEqual(stats.nearest_rank([5], 50), 5)

    def test_known_sample_sizes(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(20))  # only the median
        self.assertEqual(stats.tail_percentile(30), 66)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_ten_samples_beyond_and_highest(self):
        for n in range(21, 2001):
            p = stats.tail_percentile(n)
            if p is None:
                continue
            xs = list(range(n))
            v = stats.nearest_rank(xs, p)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)
            if p < 100:
                above = n - math.ceil((p + 1) / 100 * n)
                self.assertLess(above, 10, f"n={n}: p{p + 1} would also qualify")

    def test_summary(self):
        s = stats.latency_summary(list(range(1, 101)))
        self.assertEqual((s["n"], s["p50"], s["tail_pct"], s["tail"]), (100, 50.5, 90, 90))
        s = stats.latency_summary([1.0, 2.0, 3.0])
        self.assertIsNone(s["tail"])


class SpanArithmetic(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(union_length([], 0, 10), 0)
        self.assertEqual(union_length([(1, 3), (2, 5)], 0, 10), 4)
        self.assertEqual(union_length([(1, 3), (4, 5)], 0, 10), 3)
        self.assertEqual(union_length([(-5, 2), (8, 20)], 0, 10), 4)  # clipped
        self.assertEqual(union_length([(1, 2), (1, 2)], 0, 10), 1)
        self.assertEqual(union_length([(12, 15)], 0, 10), 0)

    def tree(self):
        spans = [
            [1, 0, "r", "op.produce", 0.0, 100.0],
            [2, 1, "r", "log.append", 10.0, 90.0],
            [3, 2, "r", "log.appendBatch", 10.0, 30.0],
            [4, 2, "r", "sources.graftlog_write", 25.0, 85.0],
        ]
        work = {
            "4": {"jobs": 3, "stages": 3, "tasks": 9, "task_ms": 120, "cpu_ns": 5,
                  "gc_ms": 1, "shuffle_write_bytes": 100, "spill_bytes": 0,
                  "sched_delay_ms": 7, "first_job_ms": 40.0,
                  "stage_intervals": [[40.0, 50.0], [45.0, 60.0], [70.0, 80.0]]},
        }
        return Tree(spans, work)

    def test_self_time(self):
        t = self.tree()
        self.assertEqual(t.self_time(1), 100 - 80)
        self.assertEqual(t.self_time(2), 80 - 75)  # children overlap 25..30
        self.assertEqual(t.self_time(3), 20)

    def test_work_rolls_up_and_driver_gap(self):
        t = self.tree()
        w = t.work_of(1)
        self.assertEqual((w["jobs"], w["tasks"], w["first_job_ms"]), (3, 9, 40.0))
        self.assertEqual(t.driver_gap(1), 100 - 30)
        self.assertEqual(t.driver_gap(3), 20)
        self.assertEqual(t.roots(), [1])


class Report(unittest.TestCase):
    def raw(self):
        return {
            "workload": "fetch_serve", "setup_s": [9.0, 3.0, 4.0],
            "attempted": 4, "failed": 0, "values": {},
            "samples": {"append_ms": [[300.0, 0.0], [310.0, 1.0]],
                        "fetch_ms": [[100.0, 0.0], [120.0, 0.0], [130.0, 1.0]]},
        }

    def test_end_to_end_uses_untraced_operations(self):
        e = report.end_to_end(self.raw())
        self.assertEqual(set(e), set(report.END_TO_END))
        self.assertEqual(e["setup_s"][0], 4.0)
        self.assertEqual(e["result_p50_ms"][0], 110.0)

    def test_workload_metrics_name_the_supported_tail(self):
        raw = self.raw()
        raw["samples"]["fetch_ms"] = [[float(x), 0.0] for x in range(1, 201)]
        m = report.workload_metrics(raw)
        self.assertEqual(m["fetch_p50_ms"][0], 100.5)
        self.assertEqual(m["fetch_p95_ms"][0], 190.0)
        self.assertEqual(m["fetch_samples"][0], 200)
        # one untraced append supports its median only
        self.assertEqual([k for k in m if k.startswith("append_p")], ["append_p50_ms"])


class DueClock(unittest.TestCase):
    def test_scala_self_test(self):
        try:
            cp = build.build()
        except build.BuildError as e:
            self.skipTest(f"benchmark cannot be built here: {e}")
        out = subprocess.run(["java", "-cp", cp, "graftbench.SelfTest"],
                             capture_output=True, text=True, timeout=120)
        self.assertEqual(out.returncode, 0, out.stderr)


if __name__ == "__main__":
    unittest.main()
