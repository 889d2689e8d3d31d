"""Tests of the benchmark's own checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import pandas as pd

import layers
import oracle


class OracleCheck(unittest.TestCase):
    """A saved result is compared with the DuckDB oracle's answer."""

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        self.fixtures = os.path.join(d, "fixtures")
        os.makedirs(self.fixtures)
        pd.DataFrame({"k": [1, 1, 2, 3], "v": [0.5, 1.25, 2.0, 3.0]}).to_parquet(
            os.path.join(self.fixtures, "t.parquet"))
        self.sql = {"q": "SELECT k, SUM(v) AS s FROM t GROUP BY k"}
        self.right = pd.DataFrame({"s": [3.0, 2.0, 1.75], "k": [3, 2, 1]})

    def tearDown(self):
        self.dir.cleanup()

    def check(self, result):
        results = os.path.join(self.dir.name, "results")
        os.makedirs(os.path.join(results, "q"), exist_ok=True)
        result.to_parquet(os.path.join(results, "q", "part-0.parquet"))
        return oracle.check(results, self.sql, self.fixtures,
                            os.path.join(self.dir.name, "cache"))["q"]

    def test_same_rows_in_any_order_pass(self):
        self.assertIsNone(self.check(self.right))
        self.assertIsNone(self.check(self.right), "cached answer")

    def test_dropped_row_is_caught(self):
        self.assertIn("rows 2 vs 3", self.check(self.right.iloc[1:]))

    def test_changed_value_is_caught(self):
        wrong = self.right.copy()
        wrong.loc[0, "s"] = 3.0 + 1e-6
        self.assertIn("s: 1 values", self.check(wrong))

    def test_changed_key_is_caught(self):
        wrong = self.right.copy()
        wrong.loc[2, "k"] = 4
        self.assertIsNotNone(self.check(wrong))

    def test_float_tolerance_and_dtype(self):
        close = self.right.copy()
        close["s"] = close["s"] * (1 + 1e-12)
        self.assertIsNone(self.check(close))
        self.assertIn("dtype", oracle.compare(
            pd.DataFrame({"a": [1]}), pd.DataFrame({"a": [1.0]})))

    def test_missing_result_is_a_failure(self):
        self.assertEqual(oracle.check(os.path.join(self.dir.name, "none"), self.sql,
                                      self.fixtures, self.dir.name)["q"],
                         "no saved result")


def span(i, parent, kind, start, end, name="", stack="", **attrs):
    return {"id": i, "parent": parent, "kind": kind, "name": name or kind,
            "start": int(start * 1e9), "end": int(end * 1e9), "stack": stack,
            "attrs": attrs}


class Layers(unittest.TestCase):
    """Per-layer numbers from a hand-built span tree."""

    def tree(self, write_end=10.0):
        pin = "x(Dataset.scala:1)\ngraft.operators.Pin$.apply(Pin.scala:39)\n" \
              "graft.operators.Graphs$.rank(Graphs.scala:9)"
        return [
            span(1, 0, "workload", 0, 11),
            span(2, 1, "pass", 0, 10, name="warm", index=2, gc_s=0.1, proc_cpu_s=4.5,
                 peak_heap_mb=150.0,
                 codegen_s=0.25, codegen_classes=3),
            span(3, 2, "query", 0, 10, name="q", cc_rounds=2),
            span(4, 3, "build", 0, 6),
            span(5, 4, "job", 1, 3, name="localCheckpoint at Pin.scala:39", stack=pin),
            span(6, 5, "stage", 1, 3, tasks=4, input_bytes=2e6, exchange=1,
                 shuffle_write_bytes=1e6, task_cpu_s=1.5),
            span(7, 4, "job", 2, 4, name="head at Graphs.scala:10",
                 stack="x(Dataset.scala:1)\ngraft.operators.Graphs$.rank(Graphs.scala:10)"),
            span(8, 3, "plan", 6, 6.5),
            span(9, 3, "write", 6.5, write_end),
            span(10, 9, "job", 7, 9, name="save at Harness.scala:1"),
            span(11, 0, "action", 7, 7.2, analysis_s=0.05, optimization_s=0.1,
                 planning_s=0.05),
        ]

    def layers(self, spans):
        passes = [{"kind": "cold", "traced": True, "wall_s": 20.0, "cpu_s": 5.0},
                  {"kind": "warm", "traced": False, "wall_s": 12.0, "cpu_s": 3.0},
                  {"kind": "warm", "traced": True, "wall_s": 10.0, "cpu_s": 2.0},
                  {"kind": "warm", "traced": False, "wall_s": 9.5, "cpu_s": 1.75}]
        spans = spans + [span(99, 1, "pass", -20, -10, name="cold", index=0, gc_s=0.5,
                              proc_cpu_s=30.0, peak_heap_mb=90.0, codegen_s=1.0, codegen_classes=7)]
        return layers.per_layer(spans, passes, steady=[2, 3])

    def test_numbers(self):
        m, unclosed = self.layers(self.tree())
        self.assertEqual(unclosed, [])
        self.assertAlmostEqual(m["spark.scheduler.job_s"], 5.0)
        self.assertAlmostEqual(m["driver.outside_jobs_s"], 5.0)
        self.assertAlmostEqual(m["queries.build_s"], 6.0)
        self.assertEqual(m["queries.build_jobs"], 2)
        self.assertEqual(m["operators.Pin.jobs"], 1)
        self.assertEqual(m["operators.Graphs.jobs"], 2)
        self.assertEqual(m["operators.Dedup.jobs"], 0)
        self.assertEqual(m["operators.Dedup.cc_rounds"], 2)
        self.assertAlmostEqual(m["Tables.scan_mb"], 2.0)
        self.assertEqual(m["spark.shuffle.exchanges"], 1)
        self.assertAlmostEqual(m["GraftExtensions.plan_s"], 0.2)
        self.assertEqual(m["GraftExtensions.actions"], 1)
        self.assertEqual(m["spark.codegen.classes"], 3)
        self.assertEqual(m["jvm.peak_heap_mb"], 150.0)
        self.assertEqual(m["spark.codegen.cold_classes"], 7)
        self.assertEqual(m["jvm.cold_wall_s"], 20.0)
        self.assertEqual(m["jvm.process_cpu_s"], 4.5)
        self.assertAlmostEqual(m["trace.overhead_wall_s"], 0.5)
        self.assertAlmostEqual(m["trace.unattributed_share"], 0.0)

    def test_uncovered_wall_fails_the_closure_check(self):
        _, unclosed = self.layers(self.tree(write_end=9.0))
        self.assertEqual(unclosed, ["q in pass 2"])

    def test_job_outside_the_query_subtree_fails_the_closure_check(self):
        orphan = span(12, 0, "job", 4.5, 5.5, name="count at Other.scala:1")
        m, unclosed = self.layers(self.tree() + [orphan])
        self.assertEqual(unclosed, ["q in pass 2"])
        # Its time would otherwise have passed for time outside jobs.
        self.assertAlmostEqual(m["driver.outside_jobs_s"], 5.0)

    def test_job_outside_every_query_window_is_not_a_failure(self):
        save = span(12, 0, "job", 10.5, 10.8, name="parquet at Harness.scala:1")
        _, unclosed = self.layers(self.tree() + [save])
        self.assertEqual(unclosed, [])


if __name__ == "__main__":
    unittest.main()
