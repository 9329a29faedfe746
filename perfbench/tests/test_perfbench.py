"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests

The digest test compiles the benchmark (perfbench/build.py) and runs its
Scala self-test; the others are pure Python.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402


def span(sid, parent, start, end, name="s", trace="t"):
    return {"id": sid, "parent": parent, "start_ns": start, "end_ns": end,
            "name": name, "trace": trace, "task_ms": 0, "jobs": 0, "tasks": 0,
            "task_max_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "rows": -1}


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        values = list(range(1, 101))  # 100 samples
        value, pct, n = run.tail(values)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for v in values if v > value), 10)

    def test_small_sample(self):
        value, pct, n = run.tail([5.0, 1.0, 4.0, 2.0, 3.0] * 5)  # 25 samples
        self.assertEqual((pct, n), (60.0, 25))
        self.assertEqual(value, 3.0)

    def test_too_few_samples(self):
        self.assertIsNone(run.tail([1.0] * 10))
        self.assertIsNotNone(run.tail([1.0] * 11))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)]
        self.assertEqual(run.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50)]
        self.assertEqual(run.self_times(spans)[1], 60)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(run.self_times(spans)[1], 90)

    def test_grandchildren_do_not_count_twice(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 20)]
        self.assertEqual(run.self_times(spans), {1: 50, 2: 30, 3: 20})

    def test_traces_are_separate(self):
        spans = [span(1, 0, 0, 100, trace="a"), span(2, 1, 0, 50, trace="b")]
        self.assertEqual(run.self_times(spans)[1], 100)

    def test_span_metrics_take_median_across_traces(self):
        spans = [span(1, 0, 0, 2 * 10**9, name="x", trace="a"),
                 span(2, 0, 0, 4 * 10**9, name="x", trace="b"),
                 span(3, 0, 0, 9 * 10**9, name="x", trace="c")]
        self.assertEqual(run.span_metrics(spans, cores=4)["x.wall_s"], 4.0)


class MetricNames(unittest.TestCase):
    def test_charset(self):
        for ok in ["link.pairs", "pipeline.stage.docs.wall_s", "setup_s", "a-b.c_9"]:
            self.assertTrue(run.NAME_RE.match(ok), ok)
        for bad in ["", ".x", "_x", "a b", "a/b", "a:b", "x" * 65, "métrique"]:
            self.assertFalse(run.NAME_RE.match(bad), bad)

    def test_benchmark_names(self):
        spec = run.load_spec()
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(run.NAME_RE.match(n), n)

    def test_every_per_layer_metric_is_computed(self):
        empty = {"provenance": {"nproc": 4}, "spans": [], "counters": {},
                 "triggers": [], "ops": [], "traced_ops": []}
        spec = run.load_spec()
        self.assertEqual(set(run.per_layer(empty)),
                         {m["name"] for m in spec["per_layer"]})


class DigestOrderIndependence(unittest.TestCase):
    def test_scala_self_test(self):
        cp, _ = build.build()
        r = subprocess.run([build.java(), "-cp", cp, "graft.perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        out = r.stdout.decode()
        self.assertEqual(r.returncode, 0, out)
        self.assertIn("digest is independent of row order", out)


class DefaultDigests(unittest.TestCase):
    def test_recorded_for_every_workload(self):
        with open(os.path.join(BENCH, "digests.json")) as f:
            d = json.load(f)
        spec = run.load_spec()
        self.assertEqual(set(d["digests"]), {w["name"] for w in spec["workloads"]})


if __name__ == "__main__":
    unittest.main()
