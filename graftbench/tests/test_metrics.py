"""Tests of the benchmark's arithmetic and output check.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

import layers  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_hundred_samples_support_p90(self):
        p, v = metrics.tail_percentile(list(range(1, 101)))
        self.assertEqual(p, 90)
        self.assertEqual(v, 90)  # nearest rank: 10 samples (91..100) beyond

    def test_thousand_samples_support_p99(self):
        p, v = metrics.tail_percentile(list(range(1000)))
        self.assertEqual((p, v), (99, 989))

    def test_smaller_samples_fall_back_to_a_lower_percentile(self):
        p, _ = metrics.tail_percentile(list(range(27)))
        self.assertEqual(p, 62)  # 27 * 0.38 = 10.26 samples beyond; p63 leaves 9.99
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertIsNone(metrics.tail_percentile([]))

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail_percentile(list(range(100, 0, -1))),
                         metrics.tail_percentile(list(range(1, 101))))


class IntervalUnion(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (6, 7), (20, 25)]), 20)

    def test_touching_intervals_merge(self):
        self.assertEqual(metrics.union_length([(0, 5), (5, 10)]), 10)

    def test_clipping(self):
        self.assertEqual(metrics.union_length([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(metrics.union_length([(0, 10)], 20, 30), 0)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0)


class MedianPhase(unittest.TestCase):
    def test_each_timing_counts_at_its_operations_median(self):
        timings = [("a", 1), ("b", 10), ("a", 3), ("b", 10), ("a", 2), ("b", 40)]
        self.assertEqual(metrics.median_phase(timings), 2 * 3 + 10 * 3)

    def test_single_timings_are_kept(self):
        self.assertEqual(metrics.median_phase([("a", 5), ("b", 7)]), 12)
        self.assertEqual(metrics.median_phase([]), 0)


class GeomeanOfMedians(unittest.TestCase):
    def test_each_operation_counts_once_at_its_median(self):
        timings = [("a", 2), ("a", 100), ("a", 2), ("b", 8), ("b", 8), ("b", 8), ("b", 8)]
        self.assertAlmostEqual(metrics.geomean_of_medians(timings), 4.0)

    def test_scales_with_every_operation(self):
        base = [("a", 10), ("b", 1000)]
        self.assertAlmostEqual(metrics.geomean_of_medians(base), 100.0)
        self.assertAlmostEqual(metrics.geomean_of_medians([("a", 20), ("b", 1000)]),
                               100.0 * 2 ** 0.5)


def span(start, end, parent=None, **kw):
    return dict(start=start, end=end, parent=parent, **kw)


class SelfTime(unittest.TestCase):
    def test_each_instant_goes_to_the_deepest_open_span(self):
        spans = {"op": span(0, 100), "a": span(10, 40, "op"), "b": span(30, 60, "op"),
                 "c": span(15, 25, "a")}
        by = metrics.layer_self_times(spans, lambda s: next(
            k for k, v in spans.items() if v is s))
        # op keeps what its children leave (0..10, 60..100); a loses c's
        # 10 ms and, where it overlaps its sibling b, one of the two gets
        # the instant, never both
        self.assertEqual(by, {"op": 50, "a": 10, "b": 30, "c": 10})
        self.assertEqual(sum(by.values()), 100)

    def test_layers_add_up_to_the_root_with_parallel_children(self):
        spans = {"op": span(0, 100, layer="harness"),
                 "build": span(0, 30, "op", layer="sources"),
                 "exec": span(30, 100, "op", layer="jobs"),
                 "s1": span(40, 80, "exec", layer="exec"),
                 "s2": span(50, 90, "exec", layer="exec")}
        by = metrics.layer_self_times(spans, lambda s: s["layer"])
        self.assertEqual(by, {"sources": 30, "jobs": 20, "exec": 50})

    def test_nest_places_spans_in_the_smallest_container(self):
        spans = {"op": span(0, 100, root=True, container=True),
                 "build": span(0, 40, "op", container=True),
                 "exec": span(40, 100, "op", container=True),
                 "batch": span(5, 30, container=True),
                 "job1": span(10, 20, container=True),
                 "job2": span(50, 70, container=True),
                 "stage": span(52, 60, "job2")}
        metrics.nest(spans)
        self.assertEqual(spans["batch"]["parent"], "build")
        self.assertEqual(spans["job1"]["parent"], "batch")
        self.assertEqual(spans["job2"]["parent"], "exec")
        self.assertEqual(spans["stage"]["parent"], "job2")
        self.assertIsNone(spans["op"]["parent"])

    def test_nest_never_makes_a_cycle_from_equal_spans(self):
        spans = {"a": span(0, 10, container=True), "b": span(0, 10, container=True)}
        metrics.nest(spans)
        self.assertFalse(spans["a"]["parent"] == "b" and spans["b"]["parent"] == "a")


class PerLayer(unittest.TestCase):
    def raw(self):
        def sp(i, name, start, end, parent=None, **kw):
            return dict(id=i, name=name, start=start, end=end, parent=parent, op=0, **kw)
        spans = [
            sp("op0", "op", 1000, 1100, root=True, container=True),
            sp("build0", "sources.build", 1000, 1030, "op0", container=True),
            sp("exec0", "exec", 1030, 1100, "op0", container=True),
            sp("planning.physical.1", "planning.physical", 1030, 1035),
            sp("job1", "job", 1040, 1060, container=True),
            sp("job2", "job", 1070, 1090, container=True),
            sp("stage1.0", "stage", 1041, 1059, "job1"),
        ]
        return {
            "ops": [{"name": "q", "ms": 100.0, "error": None}],
            "traced_ops": [{"name": "q", "ms": 100.0, "error": None}],
            "ops_after": [{"name": "q", "ms": 100.0, "error": None}],
            "peak_rss_mb": 1.0,
            "check": {"result_rows": {"q": 4.0}},
            "trace": {"counters": {"0": {"sources.records_read": 40.0,
                                         "jobs.task_attempts": 8.0,
                                         "jobs.task_failures": 2.0}},
                      "maxima": {"0": {"exec.peak_mem_mb": 3.0}},
                      "spans": spans, "plans": [{"op": 0, "fingerprint": "abc"}]},
        }

    def test_busy_gap_and_self_time(self):
        values, report = layers.per_layer({"kind": "catalog"}, self.raw())
        self.assertEqual(values["jobs.busy_ms"], 40)
        self.assertEqual(values["jobs.gap_ms"], 30)
        self.assertEqual(values["self.sources_ms"], 30)
        self.assertEqual(values["self.planning_ms"], 5)
        self.assertEqual(values["self.exec_ms"], 18)
        self.assertEqual(values["self.jobs_ms"], 25 + 2 + 20)  # exec gap, job1, job2
        self.assertEqual(values["sources.read_per_out"], 10)
        self.assertEqual(values["jobs.retry_ratio"], 0.25)
        self.assertEqual(values["trace.overhead_ms"], 0)
        self.assertIn("plan q abc", report)


class OutputCheck(unittest.TestCase):
    def test_equal_answers_match_whatever_the_column_order(self):
        a = oracle.answer(pd.DataFrame({"x": [1, 2], "y": [0.5, 1.5]}))
        b = oracle.answer(pd.DataFrame({"y": [0.5, 1.5], "x": [1, 2]}))
        self.assertIsNone(oracle.compare(a, b))

    def test_a_corrupted_expected_answer_is_a_failure(self):
        got = oracle.answer(pd.DataFrame({"x": [1, 2], "y": [0.5, 1.5]}))
        for bad in ({"x": [1, 3], "y": [0.5, 1.5]}, {"x": [1], "y": [0.5]},
                    {"x": [1, 2], "z": [0.5, 1.5]}, {"x": [1, 2], "y": [0.5, 1.5000001]}):
            self.assertIsNotNone(oracle.compare(got, oracle.answer(pd.DataFrame(bad))))

    def test_check_reports_a_mismatch_and_a_read_only_row_that_wrote(self):
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            for name in ("good", "bad", "wrote"):
                os.makedirs(os.path.join(d, name))
                pd.DataFrame({"x": [1, 2]}).to_parquet(os.path.join(d, name, "part-0.parquet"))

            class Cache:
                def get(self, row, sql):
                    return oracle.answer(pd.DataFrame({"x": [1, 2] if row == "good" else [1, 5]}))
            raw = {"ops": [{"name": n, "ms": 1.0, "error": None} for n in ("good", "bad", "wrote")],
                   "check": {"failures": {}, "build_bytes_written": {"wrote": 10.0}}}
            w = {"kind": "catalog", "rows": ["good", "bad", "wrote"]}
            failed = layers.check(w, raw, d, {"good": "", "bad": "", "wrote": ""}, Cache())
            self.assertEqual(sorted(failed), ["bad", "wrote"])
            self.assertEqual(layers.failed_count(raw, failed), 2)


class Contract(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics the run reports."""

    def test_benchmark_json_matches_the_reported_metrics(self):
        import json
        import workloads
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(workloads.WORKLOADS))
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        raw = PerLayer().raw()
        raw.update(setup_end_epoch_ms=2000.0, launched=1.0, peak_rss_mb=1.0,
                   live_heap_mb=1.0, session_s=1.0, gc={"count": 0, "ms": 0})
        values, _ = layers.end_to_end({"kind": "catalog"}, raw)
        self.assertEqual(set(values), set(e2e))
        values, _ = layers.per_layer({"kind": "catalog"}, raw)
        self.assertEqual(set(values), set(layer))
        for name, unit in {**e2e, **layer}.items():
            self.assertEqual(workloads.UNITS[name], unit, name)
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


if __name__ == "__main__":
    unittest.main()
