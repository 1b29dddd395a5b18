"""Tests for the benchmark's own math and record format.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import oracle  # noqa: E402


def span(name, wall, kind="span", **counters):
    s = {"name": name, "kind": kind, "wall_s": wall, "jobs": 1, "task_s": 0.0,
         "task_cpu_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
         "gc_s": 0.0}
    s.update(counters)
    return s


def clearvue_spans(scale=1.0):
    chain = [span(n, (i + 1) * scale, "prefix", jobs=i + 1,
                  task_s=(i + 1) * 2.0 * scale)
             for i, n in enumerate(metrics.PREFIX_CHAIN[:-1])]
    return chain + [span("std.memo_build", 6.0 * scale, jobs=7),
                    span("queries.bi", 1.0 * scale, exchanges=8, plan_s=0.1),
                    span("sinks.jsonl", 2.0 * scale, output_mb=100.0),
                    span("sinks.csv", 0.5 * scale, output_mb=0.5),
                    span("sinks.xlsx", 0.5 * scale, output_mb=0.4)]


def record(walls, traced_every=0, workload="clearvue_job"):
    its = []
    for i, w in enumerate(walls):
        traced = bool(traced_every) and i % traced_every == 1
        its.append({"id": i + 1, "traced": traced, "wall_s": w,
                    "cpu_s": 2 * w, "peak_storage_mb": 50.0 + i,
                    "pins_peak": 1, "export_mb": 101.0, "memo_hits": 13,
                    "memo_builds": 1,
                    "spans": clearvue_spans() if traced else []})
    return {"setup_s": [9.0, 1.2, 1.1], "iterations": its,
            "provenance": {"cores": 4, "workload": workload},
            "attempted": 40, "failed": 0}


class MedianTest(unittest.TestCase):
    def test_median_carries_its_sample_count(self):
        self.assertEqual(metrics.median_n([3.0, 1.0, 2.0]), (2.0, 3))
        self.assertEqual(metrics.median_n([4.0, 1.0, 2.0, 3.0]), (2.5, 4))

    def test_missing_samples_are_skipped_not_zeroed(self):
        self.assertEqual(metrics.median_n([None, 5.0]), (5.0, 1))
        self.assertEqual(metrics.median_n([]), (None, 0))


class PrefixTest(unittest.TestCase):
    def test_self_time_is_the_difference_of_consecutive_prefixes(self):
        selfs, neg = metrics.prefix_self([("a", 1.0), ("b", 3.0), ("c", 3.5)])
        self.assertEqual(selfs, {"a": 1.0, "b": 2.0, "c": 0.5})
        self.assertEqual(neg, 0.0)

    def test_negative_differences_are_clamped_and_reported(self):
        selfs, neg = metrics.prefix_self([("a", 2.0), ("b", 1.5), ("c", 4.0)])
        self.assertEqual(selfs, {"a": 2.0, "b": 0.0, "c": 2.5})
        self.assertAlmostEqual(neg, 0.5)

    def test_chain_spans_telescope_to_the_memo_build(self):
        selfs, neg = metrics.span_self(clearvue_spans(), cores=4)
        chain = sum(selfs[n]["wall_s"] for n in metrics.PREFIX_CHAIN)
        self.assertAlmostEqual(chain, 6.0)  # the pin's own duration
        self.assertEqual(selfs["std.memo_build"]["jobs"], 2)  # 7 - 5
        self.assertEqual(neg, 0.0)
        # other spans keep their own values
        self.assertEqual(selfs["queries.bi"]["wall_s"], 1.0)

    def test_core_util_is_task_time_over_self_wall_times_cores(self):
        selfs, _ = metrics.span_self(clearvue_spans(), cores=4)
        # clean.pipeline: self wall 1 s, self task time 2 s, 4 cores
        self.assertAlmostEqual(selfs["clean.pipeline"]["core_util"], 0.5)
        zero = metrics.span_self([span("x", 0.0, task_s=1.0)], cores=4)[0]
        self.assertEqual(zero["x"]["core_util"], 0.0)


class RatioTest(unittest.TestCase):
    def test_ratio_carries_its_base(self):
        self.assertEqual(metrics.ratio(3, 4), {"value": 0.75, "base": 4})

    def test_zero_base_gives_no_value_not_an_error(self):
        self.assertEqual(metrics.ratio(0, 0), {"value": None, "base": 0})


class SummarizeTest(unittest.TestCase):
    def test_untraced_run_reports_exactly_the_end_to_end_metrics(self):
        m = metrics.summarize(record([5.0, 4.0, 6.0]), trace=False)
        self.assertEqual(sorted(m), sorted(n for n, _ in metrics.END_TO_END))
        self.assertEqual(m["iter_s.p50"], (5.0, "s", 3))
        self.assertEqual(m["cpu_s.p50"], (10.0, "s", 3))
        self.assertEqual(m["setup_s"], (1.2, "s", 3))

    def test_traced_run_reports_every_per_layer_metric(self):
        rec = record([8.0, 12.0, 8.0, 12.0], traced_every=2)
        m = metrics.summarize(rec, trace=True)
        self.assertEqual(sorted(m),
                         sorted(n for n, _ in metrics.per_layer_catalogue()))
        # self times sum to 6 + 1 + 2 + 0.5 + 0.5 = 10; untraced p50 = 8
        self.assertAlmostEqual(m["clearvue_job.other_s"][0], -2.0)
        self.assertAlmostEqual(m["trace.overhead_s"][0], 4.0)
        self.assertEqual(m["ext.graph_pagerank.s"][0], 0.0)
        self.assertAlmostEqual(m["std.memo.hit_ratio"][0], 13 / 14)
        self.assertEqual(m["std.memo.lookups"][0], 14)
        self.assertEqual(m["queries.bi.exchanges"][0], 8)
        self.assertEqual(m["fail_ratio"][0], 0.0)


class RecordTest(unittest.TestCase):
    def test_record_round_trips(self):
        rec = record([5.0, 4.0], traced_every=2)
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "r.json")
            metrics.dump_record(rec, path)
            self.assertEqual(metrics.load_record(path), rec)

    def test_result_line_has_exactly_the_contract_keys(self):
        m = metrics.summarize(record([5.0, 4.0, 6.0]), trace=False)
        line = json.loads(metrics.result_line(True, 40, 0, m))
        self.assertEqual(sorted(line), ["attempted", "correct", "failed",
                                        "metrics"])
        self.assertEqual(line["metrics"]["iter_s.p50"],
                         {"value": 5.0, "unit": "s"})

    def test_benchmark_json_lists_the_metrics_the_runner_prints(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(metrics.WORKLOADS))
        self.assertEqual([(e["name"], e["unit"]) for e in spec["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(p["name"], p["unit"]) for p in spec["per_layer"]],
                         metrics.per_layer_catalogue())

    def test_catalogue_documents_every_metric(self):
        with open(os.path.join(BENCH, "METRICS.md")) as f:
            doc = f.read()
        names = [n for n, _ in metrics.END_TO_END]
        names += [n for n, _ in metrics.per_layer_catalogue()]
        missing = [n for n in names if f"`{n}`" not in doc]
        self.assertEqual(missing, [])


class OracleCompareTest(unittest.TestCase):
    def test_floats_match_exactly_or_within_the_relative_tolerance(self):
        self.assertEqual(oracle.cell_match(1.5, 1.5), "exact")
        self.assertEqual(oracle.cell_match(-1667252347.03, -1667252347.04),
                         "close")
        self.assertIsNone(oracle.cell_match(1.03, 1.04))
        # signed zeros differ by repr, not by value: counted as close
        self.assertEqual(oracle.cell_match(-0.0, 0.0), "close")

    def test_non_float_cells_must_be_equal(self):
        self.assertEqual(oracle.cell_match("a", "a"), "exact")
        self.assertIsNone(oracle.cell_match(1, 2))
        self.assertIsNone(oracle.cell_match(None, 0.0))

    def test_canon_sorts_columns_by_name_and_rows(self):
        cols, rows = oracle.canon(["b", "a"], [(2, "y"), (1, "x")])
        self.assertEqual(cols, ["a", "b"])
        self.assertEqual(rows, [("x", 1), ("y", 2)])


if __name__ == "__main__":
    unittest.main()
