"""Tests of the benchmark's own reductions.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import layers  # noqa: E402
import metrics  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(metrics.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.median([])


class TailTest(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        values = [float(i) for i in range(1, 101)]  # 1..100
        v, p, n = metrics.tail(values)
        self.assertEqual((v, p, n), (90.0, 90.0, 100))
        self.assertEqual(sum(x > v for x in values), 10)

    def test_order_does_not_matter(self):
        values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        v, p, n = metrics.tail(values)
        self.assertEqual((v, n), (2.0, 12))
        self.assertAlmostEqual(p, 100.0 * 2 / 12)

    def test_eleven_samples_is_the_minimum(self):
        self.assertEqual(metrics.tail([float(i) for i in range(11)])[0], 0.0)
        with self.assertRaises(ValueError):
            metrics.tail([float(i) for i in range(10)])

    def test_ties_count_as_samples(self):
        v, p, n = metrics.tail([1.0] * 20 + [2.0] * 10)
        self.assertEqual((v, n), (1.0, 30))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_ms((0.0, 10.0), []), 10.0)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_ms((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]), 7.0)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_ms((0.0, 10.0), [(1.0, 4.0), (2.0, 6.0)]), 5.0)

    def test_children_sticking_out_are_clipped(self):
        self.assertEqual(metrics.self_ms((10.0, 20.0), [(5.0, 12.0), (18.0, 30.0)]), 6.0)
        self.assertEqual(metrics.self_ms((10.0, 20.0), [(0.0, 5.0)]), 10.0)

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]), 4.0)
        self.assertEqual(metrics.union_ms([]), 0.0)


class FailureCountTest(unittest.TestCase):
    def execs(self):
        return [
            {"query": "a", "error": None, "observed": {"rows": "3", "hash": "7"}},
            {"query": "a", "error": None, "observed": {"rows": "3", "hash": "8"}},
            {"query": "b", "error": "RuntimeException: boom", "observed": {}},
            {"query": "c", "error": None, "observed": {"rows": "1", "hash": "1"}},
        ]

    def test_thrown_and_mismatched_both_count(self):
        expected = {"a": {"rows": "3", "hash": "7"}, "b": {"rows": "1"},
                    "c": {"rows": "1", "hash": "1"}}
        attempted, failed, reasons = metrics.count_failures(self.execs(), expected)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(sorted(reasons), ["a", "b"])
        self.assertIn("hash=8 (want 7)", reasons["a"])
        self.assertIn("boom", reasons["b"])

    def test_all_good(self):
        expected = {"a": {"rows": "3"}, "c": {"hash": "1"}}
        execs = [e for e in self.execs() if e["query"] != "b"]
        self.assertEqual(metrics.count_failures(execs, expected), (3, 0, {}))

    def test_missing_observation_is_a_mismatch(self):
        execs = [{"query": "a", "error": None, "observed": {}}]
        _, failed, reasons = metrics.count_failures(execs, {"a": {"rows": "3"}})
        self.assertEqual(failed, 1)
        self.assertIn("rows=None", reasons["a"])


class PassLayersTest(unittest.TestCase):
    """One pass, one query: a build that ran one job and a sink that ran two
    overlapping jobs, with a gap between build and sink."""

    def result(self):
        return {
            "provenance": {"cores": 4},
            "passes": [{"span": 0, "harness_ms": 0.0}],
            "spans": [
                {"id": 0, "parent": -1, "name": "pass:0", "start_ms": 0.0, "end_ms": 100.0,
                 "counters": {}},
                {"id": 1, "parent": 0, "name": "query:q", "start_ms": 0.0, "end_ms": 100.0,
                 "counters": {}},
                {"id": 2, "parent": 1, "name": "build", "start_ms": 0.0, "end_ms": 40.0,
                 "counters": {"scheduler.jobs": 1, "executor.run_ms": 40, "executor.cpu_ns": 2e7}},
                {"id": 3, "parent": 1, "name": "sink", "start_ms": 50.0, "end_ms": 100.0,
                 "counters": {"scheduler.jobs": 2, "scheduler.stages": 3,
                              "scheduler.stages_skipped": 1, "executor.run_ms": 80,
                              "executor.cpu_ns": 6e7, "sources.scan_rows": 30,
                              "sources.write_files": 2}},
            ],
            "jobs": [
                {"job": 0, "span": 2, "start_ms": 10.0, "end_ms": 30.0},
                {"job": 1, "span": 3, "start_ms": 55.0, "end_ms": 80.0},
                {"job": 2, "span": 3, "start_ms": 70.0, "end_ms": 90.0},
            ],
            "execs": [{"pass": 0, "query": "q", "span": 1, "error": None,
                       "observed": {"rows": "10"}}],
        }

    def test_one_pass(self):
        res = self.result()
        m = layers.pass_layers(res, res["spans"][0], 0.1, 4)
        self.assertAlmostEqual(m["build.s"], 0.04)
        self.assertAlmostEqual(m["sink.s"], 0.05)
        self.assertEqual(m["build.jobs"], 1)
        self.assertEqual(m["build.self_ms"], 20.0)
        self.assertEqual(m["sink.self_ms"], 15.0)
        self.assertEqual(m["scheduler.busy_ms"], 55.0)
        self.assertEqual(m["driver.idle_ms"], 45.0)
        self.assertAlmostEqual(m["trace.residual_ms"], 10.0)
        self.assertEqual(m["scheduler.stage_reuse"], 0.25)
        self.assertAlmostEqual(m["executor.cpu_frac"], 80.0 / 120.0)
        self.assertAlmostEqual(m["executor.slot_util"], 120.0 / (55.0 * 4))
        self.assertEqual(m["sources.scan_rows_per_out_row"], 3.0)
        self.assertEqual(m["sources.write_files"], 2)

    def test_every_layer_metric_reported(self):
        res = self.result()
        out = layers.per_layer(res, [0.1])
        self.assertEqual(sorted(out), sorted(n for n, _, _ in layers.LAYER_METRICS))


if __name__ == "__main__":
    unittest.main()
