"""Unit tests of the benchmark's own arithmetic: the median and sample-count
rule, interval unions, self time on a hand-built span
tree, and the per-layer metrics of a small synthetic trace.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402
import run  # noqa: E402


def span(id, parent, kind, start, end, op="op-1", name="", **attrs):
    return dict(id=id, parent=parent, kind=kind, name=name or id, op=op,
                start_ms=start, end_ms=end, **attrs)


class MedianRule(unittest.TestCase):
    def test_odd_and_even_counts(self):
        self.assertEqual(metrics.median_of([3.0, 1.0, 2.0]), (2.0, 3))
        self.assertEqual(metrics.median_of([4.0, 1.0, 2.0, 3.0]), (2.5, 4))
        self.assertEqual(metrics.median_of([7.5]), (7.5, 1))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.median_of([])

    def test_pass_time_uses_untraced_ops_only_and_states_the_count(self):
        def op(wall, traced, written):
            return {"wall_s": wall, "traced": traced,
                    "sizes": {"write_bytes": written, "rows_in": 10, "stored_bytes": 50, "rows_stored": 5}}
        res = {"ops": [op(10.0, False, 100), op(50.0, True, 900), op(12.0, False, 120),
                       op(11.0, False, 110)],
               "setup_s": 30.0, "setup": {"prepare_s": [1, 2, 3]}, "peak_rss_mb": 900.0}
        values = run.end_to_end(res)
        self.assertEqual(set(values), {"setup_s", "pass_s", "peak_rss_mb"})
        self.assertEqual(values["pass_s"][0], 11.0)
        self.assertIn("median of 3 ops", values["pass_s"][2])
        rates = run.bytes_per_row(res)
        self.assertEqual(rates["write_bytes_per_row"][0], 11.0)
        self.assertEqual(rates["stored_bytes_per_row"][0], 10.0)

    def test_no_byte_rates_without_a_warehouse(self):
        res = {"ops": [{"wall_s": 5.0, "traced": False, "sizes": {}}]}
        self.assertEqual(run.bytes_per_row(res), {})

    def test_end_to_end_metrics_are_the_declared_ones(self):
        with open(os.path.join(os.path.dirname(run.__file__), "..", "BENCHMARK.json")) as f:
            declared = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
        res = {"ops": [{"wall_s": 5.0, "traced": False, "sizes": {}}], "setup_s": 30.0,
               "setup": {"prepare_s": [1]}, "peak_rss_mb": 900.0}
        self.assertEqual({k: u for k, (_, u, _) in run.end_to_end(res).items()}, declared)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([(20, 30), (0, 10)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (10, 20)]), 20)


class SelfTime(unittest.TestCase):
    def test_hand_built_tree(self):
        spans = [
            span("run", "", "run", 0, 200, op=""),
            span("op-1", "run", "op", 0, 100),
            span("sql-1", "op-1", "sql", 10, 40),
            span("sql-2", "op-1", "sql", 30, 60),   # overlaps sql-1
            span("job-1", "sql-1", "job", 15, 35),
            span("job-2", "sql-1", "job", 20, 50),  # runs past its parent's end
            span("stage-1", "job-1", "stage", 15, 35),
        ]
        self_ms = metrics.self_times(spans)
        self.assertEqual(self_ms["run"], 100)      # 200 - op-1
        self.assertEqual(self_ms["op-1"], 50)      # 100 - union(10..60)
        self.assertEqual(self_ms["sql-1"], 5)      # 30 - union(15..40 clipped)
        self.assertEqual(self_ms["sql-2"], 30)     # no children
        self.assertEqual(self_ms["job-1"], 0)      # fully covered by its stage
        self.assertEqual(self_ms["stage-1"], 20)


class PerLayer(unittest.TestCase):
    def trace(self):
        stage = dict(tasks=4, task_duration_ms=4000, run_ms=3000, cpu_ns=2_000_000_000, gc_ms=100,
                     spill_bytes=0, peak_exec_bytes=2 ** 21, input_bytes=1000, input_records=10,
                     output_bytes=500, shuffle_read_bytes=0, shuffle_read_records=0,
                     fetch_wait_ms=0, shuffle_write_bytes=0, empty_tasks=1,
                     max_run_ms=1500, median_run_ms=500)
        return [
            span("run", "", "run", 0, 20000, op=""),
            span("op-1", "run", "op", 0, 10000, wall_s=10.0, files_stored=7),
            span("sql-1", "op-1", "sql", 1000, 4000, analysis_ms=100, optimization_ms=50,
                 planning_ms=25, exchanges=2, explicit_exchanges=1, files_written=3,
                 write_target="file:/w/warehouse-1/milestones__tmp"),
            span("job-1", "sql-1", "job", 1000, 4000, call_site="parquet at Writers.scala:48",
                 module="sources"),
            span("job-2", "op-1", "job", 3000, 6000, call_site="isEmpty at Pipeline.scala:51",
                 module="pipeline"),
            span("stage-1", "job-1", "stage", 1000, 4000, **stage),
        ]

    def test_metrics_of_one_op(self):
        m = metrics.per_layer(self.trace(), cores=4)
        self.assertAlmostEqual(m["driver.self_s"], 5.0)        # 10 s - jobs covering 1..6 s
        self.assertAlmostEqual(m["core.overlap_ratio"], 6 / 5)  # 3 s + 3 s of jobs over 5 s
        self.assertEqual(m["driver.jobs"], 2)
        self.assertEqual(m["driver.sql_executions"], 1)
        self.assertAlmostEqual(m["driver.analysis_s"], 0.1)
        self.assertAlmostEqual(m["sched.task_overhead_s"], 1.0)
        self.assertAlmostEqual(m["sched.idle_core_s"], 36.0)   # 10 s x 4 cores - 4 s of tasks
        self.assertAlmostEqual(m["exec.util"], 3.0 / 40.0)
        self.assertAlmostEqual(m["exec.straggler_s"], 1.0)
        self.assertAlmostEqual(m["exec.empty_task_ratio"], 0.25)
        self.assertEqual(m["shuffle.exchanges"], 2)
        self.assertEqual(m["shuffle.explicit_exchanges"], 1)
        self.assertAlmostEqual(m["mem.peak_exec_mb"], 2.0)
        self.assertEqual(m["pipeline.probe_jobs"], 1)
        self.assertAlmostEqual(m["pipeline.probe_s"], 3.0)
        self.assertAlmostEqual(m["pipeline.stage.milestones_s"], 3.0)  # __tmp swap target
        self.assertEqual(m["pipeline.stage.dim_date_s"], 0)
        self.assertEqual(m["sources.files_stored"], 7)
        self.assertEqual(m["sources.jobs"], 1)
        self.assertEqual(m["io.files_written"], 3)
        for gate in metrics.GATES:
            self.assertEqual(m[f"gate.{gate}_s"], 0)

    def test_gate_spans_carry_their_exchanges(self):
        spans = [
            span("run", "", "run", 0, 9000, op=""),
            span("op-1", "run", "op", 0, 9000, wall_s=9.0),
            span("gate-2", "op-1", "gate", 0, 4000, name="x13_edit_distance"),
            span("sql-5", "gate-2", "sql", 100, 3900, exchanges=4),
            span("gate-3", "op-1", "gate", 4000, 9000, name="x8_dup_clusters_star"),
            span("sql-6", "gate-3", "sql", 4100, 8900, exchanges=1),
        ]
        m = metrics.per_layer(spans, cores=4)
        self.assertAlmostEqual(m["gate.x13_edit_distance_s"], 4.0)
        self.assertEqual(m["gate.x13_edit_distance_exchanges"], 4)
        self.assertEqual(m["gate.x8_dup_clusters_star_exchanges"], 1)
        self.assertEqual(m["shuffle.exchanges"], 5)

    def test_every_declared_per_layer_metric_is_computed_with_its_unit(self):
        with open(os.path.join(os.path.dirname(run.__file__), "..", "BENCHMARK.json")) as f:
            declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        computed = set(metrics.per_layer(self.trace(), cores=4)) | {"trace_overhead"}
        self.assertEqual(set(declared), computed)
        self.assertEqual({n: run.unit_of(n) for n in declared}, declared)


if __name__ == "__main__":
    unittest.main()
