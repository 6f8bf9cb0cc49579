"""Tests of the benchmark's own statistics and report.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import math
import unittest
from pathlib import Path

import run
import stats


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailPercentileTest(unittest.TestCase):
    def test_needs_twenty_samples(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))

    def test_twenty_samples_give_the_median_rank(self):
        p, v = stats.tail_percentile(list(range(1, 21)))
        self.assertEqual((p, v), (50, 10))

    def test_ten_samples_lie_beyond(self):
        values = list(range(1, 101))
        p, v = stats.tail_percentile(values)
        self.assertEqual((p, v), (90, 90))
        self.assertEqual(sum(1 for x in values if x > v), 10)
        for n in range(20, 200):
            values = list(range(n))
            p, v = stats.tail_percentile(values)
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10, n)
            # one percent higher would leave fewer than ten beyond
            self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail_percentile(list(range(30, 0, -1))),
                         stats.tail_percentile(list(range(1, 31))))

    def test_summary(self):
        self.assertEqual(stats.summary([2.0, 1.0, 3.0]), {"median": 2.0, "n": 3})
        s = stats.summary([float(x) for x in range(1, 41)])
        self.assertEqual((s["n"], s["p"], s["p_value"]), (40, 75, 30.0))


class FailRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.fail_ratio(0, 7), 0.0)
        self.assertEqual(stats.fail_ratio(2, 8), 0.25)
        self.assertEqual(stats.fail_ratio(3, 3), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)
        with self.assertRaises(ValueError):
            stats.fail_ratio(4, 3)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 30), self.span(2, 0, 20, 50),
                 self.span(3, 0, 90, 120),  # runs past its parent: clipped
                 self.span(4, 1, 12, 18)]
        self.assertEqual(stats.self_times(spans),
                         {0: 100 - 40 - 10, 1: 20 - 6, 2: 30, 3: 30, 4: 6})

    def test_leaf_keeps_its_duration(self):
        self.assertEqual(stats.self_times([self.span(7, -1, 5, 9)]), {7: 4})

    def test_covered(self):
        self.assertEqual(stats.covered([], 0, 10), 0)
        self.assertEqual(stats.covered([(0, 4), (4, 6), (8, 20)], 0, 10), 8)


class ReportTest(unittest.TestCase):
    def result(self):
        def op(phase, cycle, name, s, threw=False, ok=True):
            return {"phase": phase, "cycle": cycle, "name": name,
                    "wall_ns": int(s * 1e9), "threw": threw, "ok": ok, "error": ""}
        return {
            "workload": "geoarrow_io", "input_rows": 1000, "cores": 4,
            "setup_s": [9.0, 1.0, 2.0], "warmup_s": 5.0, "peak_rss_kb": 2048,
            "cycles": [{"phase": "measure", "cycle": c, "wall_ns": int(w * 1e9),
                        "complete": done}
                       for c, w, done in ((2, 2.0, True), (3, 4.0, True), (4, 0.5, False))],
            "ops": [op("measure", 2, "sources.write_leg", 1.0),
                    op("measure", 2, "sources.read_leg", 1.0),
                    op("measure", 3, "sources.write_leg", 3.0, ok=False),
                    op("measure", 3, "sources.read_leg", 1.0),
                    op("measure", 4, "sources.write_leg", 0.5, threw=True, ok=False)],
            "notes": {}, "micro": {}, "extras": {},
        }

    def test_end_to_end_uses_complete_cycles(self):
        e2e = run.end_to_end(self.result(), ("measure",))
        self.assertEqual(e2e, {"setup_s": 2.0, "rows_per_s": 1000 / 3.0,
                               "peak_rss_mb": 2.0})

    def test_figures_time_wrong_outputs_but_not_calls_that_threw(self):
        figures = {name: (value, s["n"]) for name, _, value, s
                   in run.workload_figures(self.result(), ("measure",))}
        self.assertEqual(figures["write_rows_per_s"], (1000 / 2.0, 2))
        self.assertEqual(figures["read_rows_per_s"], (1000 / 1.0, 2))

    def test_per_layer_sums_subtrees_per_cycle(self):
        res = self.result()
        res["cycles"] = [{"phase": p, "cycle": c, "wall_ns": w, "complete": True}
                         for p, c, w in (("untraced", 1, 3000), ("traced", 2, 4000))]
        res["ops"] = []
        spans = [
            {"id": 0, "parent": -1, "name": "cycle", "start_ns": 0, "end_ns": 4000,
             "counters": {"jobs": 1, "task_cpu_ns": 8000}},
            {"id": 1, "parent": 0, "name": "sources.write_leg", "start_ns": 0,
             "end_ns": 3000, "counters": {"jobs": 2, "max_task_ms": 7}},
            {"id": 2, "parent": 1, "name": "spark.collect", "start_ns": 1000,
             "end_ns": 2000, "counters": {"jobs": 4, "max_task_ms": 9}},
            {"id": -1, "parent": -1, "name": "unattributed", "start_ns": 0,
             "end_ns": 0, "counters": {"jobs": 100}},
        ]
        m = run.per_layer(res, spans)
        self.assertEqual(m["sched.jobs"], 7)
        self.assertEqual(m["sched.max_task_ms"], 9)
        self.assertAlmostEqual(m["sched.utilization"], 8000 / (4000 * 4))
        self.assertEqual(m["self.bench_ms"], 1000 / 1e6)
        self.assertEqual(m["self.sources_ms"], 2000 / 1e6)
        self.assertEqual(m["self.spark_ms"], 1000 / 1e6)
        self.assertAlmostEqual(m["trace.overhead_ms"], 1e3 * (4000 - 3000) / 1e9)
        self.assertEqual(set(m), {name for name, _ in run.LAYER_FIGURES})


class BenchmarkFileTest(unittest.TestCase):
    def test_metrics_match_what_run_prints(self):
        bench = json.loads((Path(run.REPO) / "BENCHMARK.json").read_text())
        self.assertEqual({(m["name"], m["unit"]) for m in bench["end_to_end"]},
                         set(run.END_TO_END))
        self.assertEqual({(m["name"], m["unit"]) for m in bench["per_layer"]},
                         set(run.PER_LAYER))
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
