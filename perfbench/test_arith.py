"""Tests of the benchmark's own arithmetic (no Spark session needed).

    python3 -m pytest perfbench/test_arith.py -q
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import expect, metrics, trace  # noqa: E402


def _span(name, layer, start, end, parent=None, pass_id=0):
    return {"name": name, "layer": layer, "start": start, "end": end,
            "parent": parent, "pass": pass_id}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(trace.tail_percentile(40), 75)
        self.assertEqual(trace.tail_percentile(39), 50)
        self.assertEqual(trace.tail_percentile(100), 90)
        self.assertEqual(trace.tail_percentile(200), 95)
        self.assertEqual(trace.tail_percentile(1000), 99)

    def test_too_few_samples_for_any_percentile(self):
        self.assertIsNone(trace.tail_percentile(19))
        self.assertEqual(trace.tail_percentile(20), 50)

    def test_quantile_interpolates(self):
        self.assertEqual(trace.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(trace.median([1.0, 2.0, 3.0, 4.0]), 2.5)
        self.assertEqual(trace.quantile([0.0, 10.0], 0.75), 7.5)
        self.assertEqual(trace.median([]), 0.0)


class SpanSelfTime(unittest.TestCase):
    def test_children_subtract_once_and_clip_to_parent(self):
        spans = [
            _span("pass", "pass", 0.0, 10.0),
            _span("a", "llm", 1.0, 3.0, parent=0),
            _span("b", "llm", 2.0, 5.0, parent=0),  # overlaps a: counted once
            _span("c", "sources", 8.0, 12.0, parent=0),  # clipped at 10
            _span("a.child", "operators", 1.5, 2.0, parent=1),
        ]
        st = trace.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - (4.0 + 2.0))
        self.assertAlmostEqual(st[1], 1.5)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[4], 0.5)
        by = trace.self_time_by_layer(spans)
        self.assertAlmostEqual(by["llm"], 4.5)
        # c overruns the pass by 2 s, and a and b run concurrently for 1 s
        self.assertAlmostEqual(sum(by.values()), 10.0 + 2.0 + 1.0)

    def test_tracer_records_nesting_and_fallback_parent(self):
        tr = trace.Tracer(True)
        with tr.span("outer", "step") as outer:
            with tr.span("inner", "llm"):
                pass
            tr.fallback = outer
        self.assertEqual(tr.spans[1]["parent"], outer)
        self.assertIsNone(tr.spans[0]["parent"])
        off = trace.Tracer(False)
        with off.span("x", "y") as sid:
            self.assertIsNone(sid)
        self.assertEqual(off.spans, [])

    def test_later_pass_keeps_its_parents(self):
        spans = [_span("p0", "pass", 0.0, 1.0, pass_id=0),
                 _span("p1", "pass", 2.0, 5.0, pass_id=1),
                 _span("step", "step", 2.0, 4.0, parent=1, pass_id=1)]
        mine = trace.pass_spans(spans, 1)
        self.assertEqual([sp["parent"] for sp in mine], [None, 0])
        self.assertEqual(trace.self_times(mine), [1.0, 2.0])


class JobAttribution(unittest.TestCase):
    def test_innermost_span_holding_the_submission_time(self):
        spans = [
            _span("pass", "pass", 100.0, 110.0),
            _span("step", "step", 101.0, 105.0, parent=0),
            _span("step.action", "llm", 102.0, 104.0, parent=1),
            _span("sink_apply", "sources", 106.0, 108.0, parent=0),
        ]
        ms = [100_500.0, 101_500.0, 103_000.0, 107_000.0, 109_000.0, 120_000.0]
        self.assertEqual(trace.attribute(ms, spans), [0, 1, 2, 3, 0, None])
        self.assertEqual(trace.attribute(ms, spans, layer="sources"),
                         [None, None, None, 3, None, None])


class StorageAmplification(unittest.TestCase):
    def test_hand_built_sink_directory(self):
        from scalable_data_integration_with_llms_spark.sources.txn_sink import TxnParquetSink

        with tempfile.TemporaryDirectory() as d:
            sink = TxnParquetSink(os.path.join(d, "t"))
            sizes = {0: 300, 1: 500, 2: 600}  # batch 2 compacts 0 and 1
            for b, n in sizes.items():
                part = os.path.join(sink.data_dir, f"batch_id={b}")
                os.makedirs(part)
                with open(os.path.join(part, "part-0.parquet"), "wb") as fh:
                    fh.write(b"x" * n)
                marker = {"batch_id": b, "n_rows": 1}
                if b == 2:
                    marker["supersedes"] = [0, 1]
                with open(os.path.join(sink.commit_dir, f"{b}.json"), "w") as fh:
                    json.dump(marker, fh)
            markers = trace.dir_bytes(sink.commit_dir)
            written = trace.dir_bytes(sink.path)
            self.assertEqual(written, 1400 + markers)
            self.assertEqual(sink.vacuum(), [0, 1])
            left = trace.dir_bytes(sink.path)
            self.assertEqual(left, 600 + markers)
            w, s = trace.amplification(written, left, live_bytes=700)
            self.assertAlmostEqual(w, (1400 + markers) / 700)
            self.assertAlmostEqual(s, (600 + markers) / 700)
        self.assertEqual(trace.amplification(10, 5, 0), (0.0, 0.0))


class Digests(unittest.TestCase):
    def test_order_insensitive_and_numeric_by_value(self):
        a = expect.digest_rows(["b", "a"], [(1, "x"), (2.0, "y")])
        b = expect.digest_rows(["a", "b"], [("y", 2), ("x", 1.0)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, expect.digest_rows(["a", "b"], [("y", 2.5), ("x", 1)]))

    def test_matching_twin_counts_every_candidate_list(self):
        case = {
            "id": "c1",
            "gold_mapping": [["A_id", "a_id"]],
            "source_schema": {"columns": [{"name": "A_id", "type": "int"},
                                          {"name": "name", "type": "text"}]},
            "target_schema": {"columns": [{"name": "a_id", "type": "integer"}]},
        }
        exp = expect.matching_expected([case])
        # 2 source queries x (1 candidate + no-match) + 1 target query x (2 + no-match)
        self.assertEqual(exp["candidates"], expect.digest_rows(["n"], [(7,)]))
        self.assertEqual(exp["stable_match"],
                         expect.digest_rows(["case_id", "src", "tgt"], [("c1", "a_id", "a_id")]))


class TypicalPass(unittest.TestCase):
    @staticmethod
    def _pass(wall, **steps):
        return {"wall_s": wall, "steps": [{"name": k, "s": v} for k, v in steps.items()]}

    def test_per_step_medians_reject_a_slow_step_in_any_pass(self):
        passes = [self._pass(3.5, a=1.0, b=2.0), self._pass(5.5, a=3.0, b=2.0),
                  self._pass(5.5, a=1.0, b=4.0)]
        # medians: a 1.0, b 2.0, rest 0.5; every pass wall is 3.5 or more
        # but no single pass is typical of the slow ones
        self.assertAlmostEqual(metrics.typical_pass_s(passes), 3.5)
        self.assertEqual(trace.median([p["wall_s"] for p in passes]), 5.5)

    def test_step_latency_is_geometric_mean_of_step_medians(self):
        passes = [self._pass(1.1, a=0.1, b=1.0), self._pass(1.1, a=0.1, b=1.0)]
        self.assertAlmostEqual(metrics.typical_step_ms("integrate", passes), 316.2277660, 5)

    def test_ingest_step_latency_is_median_batch(self):
        passes = [{"batch_ms": [10, 30], "steps": []}, {"batch_ms": [20], "steps": []}]
        self.assertEqual(metrics.typical_step_ms("ingest", passes), 20)


if __name__ == "__main__":
    unittest.main()
