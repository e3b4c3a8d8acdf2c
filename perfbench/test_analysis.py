"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import analysis  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):
    def test_interpolated(self):
        values = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(analysis.percentile(values, 0.5), 50.5)
        self.assertAlmostEqual(analysis.percentile(values, 0.9), 90.1)
        self.assertAlmostEqual(analysis.percentile(reversed(values), 0.9), 90.1)
        self.assertEqual(analysis.percentile([7.0], 0.9), 7.0)
        self.assertEqual(analysis.percentile([1, 3], 0.5), 2)

    def test_ten_samples_beyond(self):
        # p90 of 100 samples sits between the 90th and 91st: ten lie past it
        self.assertEqual(analysis.beyond(100, 0.9), 10)
        self.assertTrue(analysis.tail_ok(100, 0.9))
        self.assertTrue(analysis.tail_ok(92, 0.9))
        self.assertFalse(analysis.tail_ok(91, 0.9))
        self.assertFalse(analysis.tail_ok(20, 0.9))
        # the median of 20 samples sits between the 10th and 11th
        self.assertTrue(analysis.tail_ok(20, 0.5))
        self.assertFalse(analysis.tail_ok(19, 0.5))
        self.assertFalse(analysis.tail_ok(0, 0.5))


class SpanSelfTime(unittest.TestCase):
    def test_union_merges_and_clips(self):
        self.assertEqual(analysis.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(analysis.union_ms([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(analysis.union_ms([(3, 3), (5, 4)]), 0)
        self.assertEqual(analysis.union_ms([]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 1, "name": "op", "parent": -1, "start_ms": 0, "end_ms": 100},
            {"id": 2, "name": "build", "parent": 1, "start_ms": 0, "end_ms": 30},
            {"id": 3, "name": "exec", "parent": 1, "start_ms": 40, "end_ms": 100},
            # overlapping children count once; a child spilling past its
            # parent is clipped to the parent
            {"id": 4, "name": "job", "parent": 3, "start_ms": 50, "end_ms": 80},
            {"id": 5, "name": "job", "parent": 3, "start_ms": 70, "end_ms": 120},
        ]
        t = analysis.self_times(spans)
        self.assertEqual(t["op"], {"count": 1, "total_ms": 100, "self_ms": 10})
        self.assertEqual(t["build"]["self_ms"], 30)
        self.assertEqual(t["exec"]["self_ms"], 60 - 50)
        self.assertEqual(t["job"], {"count": 2, "total_ms": 80, "self_ms": 80})


def progress(name, batch, rows, start_iso, total_ms):
    return {"name": name, "id": "q-" + name, "batchId": batch, "numInputRows": rows,
            "timestamp": start_iso, "durationMs": {"triggerExecution": total_ms}}


class TickToTrigger(unittest.TestCase):
    def setUp(self):
        t0 = analysis.epoch_ms("2026-01-01T00:00:00.000Z")
        self.t0 = t0
        # query a: 1000 rows in batch 0, 500 in 1, 500 in 2; query b one batch behind
        self.batches = analysis.batches_by_query([
            progress("a", 2, 500, "2026-01-01T00:00:02.000Z", 100),
            progress("a", 0, 1000, "2026-01-01T00:00:00.000Z", 100),
            progress("a", 1, 500, "2026-01-01T00:00:01.000Z", 100),
            progress("b", 0, 1500, "2026-01-01T00:00:01.500Z", 200),
            progress("b", 1, 0, "2026-01-01T00:00:02.000Z", 10),
        ])

    def test_cumulative_rows_pick_the_reading_trigger(self):
        a = self.batches["a"]
        self.assertEqual([c for c, _, _ in a], [1000, 1500, 2000])
        self.assertEqual(analysis.trigger_end(a, 1000), self.t0 + 100)
        self.assertEqual(analysis.trigger_end(a, 1001), self.t0 + 1100)
        self.assertEqual(analysis.trigger_end(a, 2000), self.t0 + 2100)
        self.assertIsNone(analysis.trigger_end(a, 2001))

    def test_latency_is_the_slowest_query(self):
        ticks = [{"tick": 0, "cum_rows": 1500, "visible_ns": int((self.t0 + 900) * 1e6)},
                 {"tick": 1, "cum_rows": 2000, "visible_ns": int((self.t0 + 1900) * 1e6)}]
        (lat0, done0), (lat1, done1) = analysis.tick_latencies(ticks, self.batches)
        # a read tick 0 by 1100 ms, b by 1700 ms: the bus is done at 1700
        self.assertAlmostEqual(lat0, 800)
        self.assertEqual(done0, {"a", "b"})
        # b never read row 2000: not processed
        self.assertIsNone(lat1)
        self.assertEqual(done1, {"a"})


class MetricNames(unittest.TestCase):
    def test_charset(self):
        for ok in ["setup_s", "latency_p50_ms", "live.trim.state_mb", "2x", "a-b.c_d"]:
            self.assertTrue(analysis.valid_name(ok), ok)
        for bad in ["", "_x", ".x", "has space", "a/b", "x" * 65, "é"]:
            self.assertFalse(analysis.valid_name(bad), bad)
        for ok in ["ms", "s", "1/s", "count", "%", "MB"]:
            self.assertTrue(analysis.valid_unit(ok), ok)
        self.assertFalse(analysis.valid_unit("milliseconds-long"))

    def test_declared_metrics_are_valid(self):
        import run
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertTrue(analysis.valid_name(m["name"]), m["name"])
            self.assertTrue(analysis.valid_unit(m["unit"]), m["unit"])
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        # corpus_curation runs by hand only: three workloads do not fit the time budget
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
