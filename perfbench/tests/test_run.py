"""Unit tests for the benchmark's report side.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(stats.median([7.5]), 7.5)

    def test_median_matches_statistics(self):
        xs = [0.3, 9.1, 2.2, 5.0, 5.0, 1.7, 8.8]
        self.assertAlmostEqual(stats.median(xs), statistics.median(xs))

    def test_percentile_interpolates(self):
        xs = list(range(1, 11))  # 1..10
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(stats.percentile(xs, 0), 1)
        self.assertAlmostEqual(stats.percentile(xs, 100), 10)
        self.assertAlmostEqual(stats.percentile([5.0], 90), 5.0)

    def test_percentile_of_nothing_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class ReportTest(unittest.TestCase):
    RAW = {
        "setup_s": 9.0, "pass_s": [4.0, 2.0, 3.0],
        "step_ms": {"a": [float(x) for x in range(1, 51)],
                    "b": [float(x) for x in range(51, 101)]},
        "heap_mb": [300.0, 321.5, 400.0],
        "traced_pass_s": [4.4, 2.2, 3.3],
        "layers": [
            {"etl": {"busy_ns": 2e9, "tasks": 10, "empty_tasks": 4,
                     "jobs": 3, "shuffle_bytes": 2**20}},
            {"etl": {"busy_ns": 4e9, "tasks": 30, "empty_tasks": 0,
                     "jobs": 5, "shuffle_bytes": 3 * 2**20}}],
        "engine": [{"codegen_ms": 10.0, "failed_tasks": 0.0},
                   {"codegen_ms": 20.0, "failed_tasks": 0.0}],
    }

    def test_end_to_end_metrics(self):
        m = run.end_to_end(self.RAW, rows=6000)
        self.assertEqual(m["setup_s"], 9.0)
        self.assertAlmostEqual(m["run_s"], (25.5 + 75.5) / 1e3)
        self.assertAlmostEqual(m["rows_per_s"], 6000 / m["run_s"])
        # over the two steps' medians, 25.5 and 75.5
        self.assertAlmostEqual(m["latency_p50_ms"], 50.5)
        self.assertAlmostEqual(m["latency_p90_ms"], 70.5)
        self.assertEqual(m["peak_heap_mb"], 321.5)
        self.assertEqual(set(m), {n for n, _ in run.END_TO_END})

    def test_per_layer_averages_passes_and_pools_fractions(self):
        m = run.per_layer(self.RAW)
        self.assertEqual(m["etl.busy_s"], 3.0)
        self.assertEqual(m["etl.jobs"], 4.0)
        self.assertEqual(m["etl.shuffle_mb"], 2.0)
        self.assertEqual(m["etl.empty_task_frac"], 0.1)
        self.assertEqual(m["dedup.tasks"], 0.0)
        self.assertEqual(m["engine.codegen_ms"], 15.0)
        self.assertAlmostEqual(m["engine.trace_overhead_frac"], 0.1)
        self.assertEqual(len(m), 9 * 13 + 5)
        self.assertEqual(set(m), set(run.units(1)))

    def test_report_lines_are_name_value_unit(self):
        m = run.end_to_end(self.RAW, rows=6000)
        lines = run.report_lines(m, run.units(0))
        self.assertEqual(len(lines), len(m))
        for line in lines:
            self.assertRegex(line, r"^[A-Za-z0-9][A-Za-z0-9_.]* \S+ [A-Za-z0-9_/%.-]+$")
            name, value, unit = line.split(" ")
            self.assertEqual(float(value), m[name])
            self.assertEqual(unit, run.units(0)[name])

    def test_rows_per_pass_counts_tables_each_oracle_reads(self):
        oracle = {"a": "SELECT * FROM events e JOIN orders o ON true",
                  "b": "select count(*) from lineitem where x = 'part'",
                  "c": "WITH s AS (SELECT 1 FROM events) SELECT * FROM s"}
        counts = {"events": 10, "orders": 100, "lineitem": 1000, "part": 5}
        self.assertEqual(run.rows_per_pass(oracle, ["a", "b", "c"], counts),
                         10 + 100 + 1000 + 10)

    def test_benchmark_json_matches_reported_names(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.units(0))
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.units(1))
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.SIZES))


if __name__ == "__main__":
    unittest.main()
