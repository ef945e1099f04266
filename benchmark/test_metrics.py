"""Tests of the benchmark's own arithmetic and of its DuckDB oracle.

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import families
import gen
import metrics
import oracle
import run

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 201))  # 200 samples, 1..200
        self.assertEqual(metrics.percentile(xs, 95), 190)
        self.assertEqual(metrics.percentile(xs, 50), 100)

    def test_needs_ten_samples_beyond(self):
        # p95 of 200 samples leaves exactly 10 above it: reported
        self.assertIsNotNone(metrics.percentile(list(range(200)), 95))
        # p95 of 199 samples leaves 9 above it: not supported
        self.assertIsNone(metrics.percentile(list(range(199)), 95))
        self.assertIsNone(metrics.percentile([], 50))
        # the rule can be relaxed for layer counters
        self.assertEqual(metrics.percentile([1, 2, 3], 95, min_beyond=0), 3)

    def test_unsorted_input(self):
        xs = [5, 1, 4, 2, 3] * 40
        self.assertEqual(metrics.percentile(xs, 50), 3)

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(metrics.median([]))


class EmitLagTest(unittest.TestCase):
    def test_lag_from_arrival_log(self):
        # windows of 1000 ms, watermark delay 300 ms
        arrivals = {
            ("candle", "A", 2000): [2700.0],          # due 2300 -> 400
            ("candle", "B", 2000): [2900.0],          # due 2300 -> 600
            ("slide", "A", 3000): [3150.0, 3900.0],   # first arrival counts
        }
        delay = {"candle": 300, "slide": 100}
        lags = metrics.emit_lags(arrivals, lambda k: metrics.window_due(k[2], delay[k[0]]))
        self.assertEqual(lags, {("candle", "A", 2000): 400.0,
                                ("candle", "B", 2000): 600.0,
                                ("slide", "A", 3000): 50.0})

    def test_no_arrival_no_lag(self):
        self.assertEqual(metrics.emit_lags({("c", "A", 1): []}, lambda k: 0), {})


class CompareTest(unittest.TestCase):
    def test_failures_by_kind(self):
        expected = {"a": (1.0,), "b": (2.0,), "c": (3.0,), "d": (4.0,)}
        arrived = {"a": [(1.0,)], "b": [(2.0,), (2.0,)], "c": [(3.5,)], "x": [(9.0,)]}
        attempted, failures = metrics.compare(expected, arrived)
        self.assertEqual(attempted, 5)  # 4 expected + 1 unexpected
        self.assertEqual(sorted(failures), [("duplicated", "b"), ("missing", "d"),
                                            ("unexpected", "x"), ("wrong", "c")])

    def test_all_correct(self):
        self.assertEqual(metrics.compare({"a": (1,)}, {"a": [(1,)]}), (1, []))


class FailedFracTest(unittest.TestCase):
    def test_base_is_attempted(self):
        self.assertEqual(metrics.failed_frac(0, 12), 0.0)
        self.assertEqual(metrics.failed_frac(3, 12), 0.25)

    def test_thrown_query_counted_once(self):
        # 22 queries, one throws: 1 of 22, not 2 of 23
        calls = {f"query q{i}" for i in range(22)}
        attempted, failed = metrics.tally(22, [], [("query q3", "E: boom")], calls)
        self.assertEqual((attempted, failed), (22, 1))
        self.assertAlmostEqual(metrics.failed_frac(failed, attempted), 1 / 22)

    def test_thrown_uncounted_call_adds_to_base(self):
        # a thrown call the runner did not count (a stream's query) joins
        # the base beside the results it left missing
        attempted, failed = metrics.tally(
            10, [("missing", "k")], [("query candle", "E: boom")], set())
        self.assertEqual((attempted, failed), (11, 2))

    def test_no_base(self):
        with self.assertRaises(ValueError):
            metrics.failed_frac(0, 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [
            (1, 0, "query", 0.0, 100.0),
            (2, 1, "run", 10.0, 40.0),
            (3, 1, "action", 30.0, 90.0),    # overlaps run by 10
            (4, 3, "plan", 30.0, 35.0),
            (5, 0, "query", 200.0, 210.0),
        ]
        self.assertEqual(metrics.self_times(spans),
                         {"query": 20.0 + 10.0, "run": 30.0, "action": 55.0, "plan": 5.0})

    def test_children_clipped_to_parent(self):
        spans = [(1, 0, "p", 0.0, 10.0), (2, 1, "c", 5.0, 20.0)]
        self.assertEqual(metrics.self_times(spans)["p"], 5.0)


class FamiliesTest(unittest.TestCase):
    def test_every_row_reachable(self):
        self.assertEqual(families.family("q12_join"), "relational")
        self.assertEqual(families.family("io_cdc_upsert"), "storage")
        self.assertEqual(families.family("graph_bfs_hops"), "graphs")
        self.assertEqual(families.family("candlestick_tumbling"), "windows")

    def test_unknown_prefix_fails(self):
        with self.assertRaises(KeyError):
            families.family("brand_new_family_query")


class OracleTest(unittest.TestCase):
    """DuckDB's windows on a tiny backlog, against a hand computation."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write(self, ticks):
        gen.backlog(os.path.join(self.dir, "t"), 0, ticks, 1000)
        return os.path.join(self.dir, "t", "*.json")

    def test_candles_and_slides(self):
        # (created, utc, ticker, price); B's 1500 tick arrives out of order
        ticks = [(0, 0, "A", 10.0), (400, 400, "A", 12.5), (900, 900, "A", 9.25),
                 (1200, 1200, "A", 11.0), (1600, 1500, "B", 5.0), (1700, 1700, "B", 7.0),
                 (2100, 2100, "A", 8.0)]
        glob = self.write(ticks)
        self.assertEqual(oracle.candles(glob, 1000, 2000), {
            ("A", 1000): (10.0, 9.25, 9.25, 12.5),
            ("A", 2000): (11.0, 11.0, 11.0, 11.0),
            ("B", 2000): (5.0, 7.0, 5.0, 7.0)})
        # 2000 ms windows every 1000 ms: a tick at t is in the windows
        # ending at floor(t/1000)*1000 + 1000 and + 2000
        self.assertEqual(oracle.slides(glob, 2000, 1000, 3000), {
            ("A", 1000): (9.25,), ("A", 2000): (9.25,), ("A", 3000): (8.0,),
            ("B", 2000): (5.0,), ("B", 3000): (5.0,)})
        self.assertEqual(oracle.max_tick_ms(glob), 2100)

    def test_generator_keeps_ticker_millis_unique(self):
        ticks = gen.schedule(7, 3, 1.0, 2000, 2, 0.1, 50)
        keys = [(t, utc) for _, utc, t, _ in ticks]
        self.assertEqual(len(keys), len(set(keys)))
        self.assertTrue(all(0 < c - u <= 50 for c, u, _, _ in ticks if c != u))
        self.assertEqual(ticks, gen.schedule(7, 3, 1.0, 2000, 2, 0.1, 50))


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names exactly what run.py reports."""

    def test_metric_tables_agree(self):
        with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         run.LAYERS)
        self.assertEqual([m["name"] for m in b["end_to_end"]],
                         ["result_ms_mean", "setup_s", "peak_rss_mb"])
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.RUNNERS))


if __name__ == "__main__":
    unittest.main()
