"""Tests of the benchmark's own arithmetic and inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertEqual(metrics.percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(metrics.percentile(list(range(199)), 0.95))
        self.assertEqual(metrics.percentile(list(range(200)), 0.95), 189)

    def test_nearest_rank_ignores_input_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(metrics.percentile(xs, 0.5), 3.0)
        self.assertIsNone(metrics.percentile([], 0.5))


class QuerySummary(unittest.TestCase):
    def test_each_query_counts_with_its_fastest_execution(self):
        ops = [{"lap": 0, "query": "a", "ok": True, "wall_ms": 400.0},
               {"lap": 0, "query": "b", "ok": True, "wall_ms": 900.0},
               {"lap": 1, "query": "a", "ok": True, "wall_ms": 100.0},
               {"lap": 1, "query": "b", "ok": True, "wall_ms": 1600.0},
               {"lap": 2, "query": "b", "ok": False, "wall_ms": 1.0}]
        s = metrics.query_summary(ops)
        self.assertAlmostEqual(s["lap_s"], 1.0)
        self.assertAlmostEqual(s["latency_geomean_ms"], 300.0)
        self.assertEqual(s["lap_times_s"], [1.3, 1.7])


class DueTimeLatency(unittest.TestCase):
    # slices 0, 1, 2 hold event times from 0, 100 and 200; due every 250 ms
    schedule = [(0, 1_000_000_000, 1_000_500_000),
                (1, 1_250_000_000, 1_900_000_000),
                (2, 1_500_000_000, 1_500_100_000)]
    first_ts = [0, 100, 200]

    def test_counts_from_due_time_of_the_later_leg(self):
        sink = [(50, 1_100_000_000), (150, 2_000_000_000),
                (200, 1_600_000_000)]
        self.assertEqual(metrics.due_latencies_ms(
            self.schedule, sink, self.first_ts), [100.0, 750.0, 100.0])

    def test_a_late_write_counts_against_latency(self):
        # slice 1 was written 650 ms late; its row sank 100 ms after the
        # write, but 750 ms after it was due
        lat = metrics.due_latencies_ms(
            self.schedule, [(120, 2_000_000_000)], self.first_ts)
        self.assertEqual(lat, [750.0])
        self.assertEqual(max(metrics.generator_lateness_ms(self.schedule)),
                         650.0)


    def test_the_warm_up_slice_has_no_latency(self):
        schedule = self.schedule[1:]
        sink = [(50, 1_100_000_000), (150, 2_000_000_000)]
        self.assertEqual(metrics.due_latencies_ms(
            schedule, sink, self.first_ts), [750.0])

    def test_growth_compares_the_last_third_with_the_first(self):
        schedule = [(i, i * 250_000_000, i * 250_000_000)
                    for i in range(1, 7)]
        first_ts = [0, 100, 200, 300, 400, 500, 600]
        # slices 1-2 sink 100 ms after due, slices 5-6 400 ms after due
        sink = [(ts, (ts // 100) * 250_000_000 + lag * 1_000_000)
                for ts, lag in ((100, 100), (250, 100), (300, 900),
                                (500, 400), (650, 400))]
        self.assertEqual(metrics.latency_growth_ms(schedule, sink, first_ts),
                         300.0)
        self.assertIsNone(metrics.latency_growth_ms(schedule[:2], sink,
                                                    first_ts))


class LaneChecks(unittest.TestCase):
    cfg = {"scan_slices": 3, "scan_period_ms": 250, "scan_rows_per_slice": 2,
           "gen_late_limit_ms": 250}

    def result(self, written_late_ms):
        step = gen.SCAN_STEP_US
        t0 = 1_000_000_000
        return {
            "staged_rows": 10, "trading_rows": 10, "stored_rows": 10,
            "scan_rows": 6, "scan_consumed_rows": 6, "scan_match": True,
            "scan_stream_opps": 1, "scan_batch_opps": 1,
            # slice 0 warms up; slices 1 and 2 are due 250 ms apart
            "scan_schedule": [(1, t0, t0),
                              (2, t0 + 250_000_000,
                               t0 + 250_000_000 + written_late_ms * 10**6)],
            "scan_sink": [(gen.EPOCH_2024 + 4 * step, t0 + 300_000_000)],
            "scan_batches": [(4, 900)], "admitted": [3, 1],
            "ingest_s": 1.0, "curation_s": 2.0, "curation_docs": 4,
            "curation_batch_ms": [1000.0, 1000.0]}

    def evaluate(self, late_ms, cfg=None):
        expected = {"curation_admitted": metrics.id_set_fingerprint([1, 3])}
        return run.evaluate_lanes(self.result(late_ms), expected,
                                  cfg or self.cfg)

    def test_a_generator_on_time_passes(self):
        e2e, report, attempted, bad = self.evaluate(100)
        self.assertEqual(bad, [])
        self.assertTrue(report["opp_latency_valid"])
        self.assertEqual(report["scan_offered_rows_per_s"], 8.0)

    def test_drain_capacity_only_from_a_burst(self):
        self.assertIsNone(self.evaluate(0)[1]["scan_drain_rows_per_s"])
        burst = dict(self.cfg, scan_period_ms=0)
        report = self.evaluate(0, burst)[1]
        self.assertAlmostEqual(report["scan_drain_rows_per_s"], 4 / 0.9)
        self.assertIsNone(report["scan_offered_rows_per_s"])

    def test_a_late_generator_fails_the_run(self):
        e2e, report, attempted, bad = self.evaluate(400)
        self.assertEqual(bad, ["scan: generator 400 ms late"])
        self.assertFalse(report["opp_latency_valid"])
        self.assertIsNone(report["opp_latency_p50_ms"])


class Checksums(unittest.TestCase):
    expected = {"q": {"rows": 3, "hx": 11, "hs": -4}}

    def op(self, **kw):
        base = {"query": "q", "lap": 0, "ok": True, "rows": 3, "hx": 11,
                "hs": -4}
        base.update(kw)
        return base

    def test_matching_output_passes(self):
        self.assertEqual(metrics.check_ops([self.op()], self.expected), [])

    def test_any_difference_fails(self):
        for kw in ({"rows": 4}, {"hx": 12}, {"hs": 0}, {"ok": False}):
            self.assertEqual(
                metrics.check_ops([self.op(**kw)], self.expected), ["q@0"])

    def test_query_without_expectation_fails(self):
        self.assertEqual(metrics.check_ops([self.op(query="r")],
                                           self.expected), ["r@0"])

    def test_id_set_fingerprint_ignores_order(self):
        self.assertEqual(metrics.id_set_fingerprint([3, 1, 2]),
                         metrics.id_set_fingerprint([1, 2, 3]))
        self.assertNotEqual(metrics.id_set_fingerprint([1, 2]),
                            metrics.id_set_fingerprint([1, 2, 3]))


class ReplayFiles(unittest.TestCase):
    cfg = {"ingest_rows": 600, "ingest_slices": 3, "scan_rows": 96, "scan_slices": 4,
           "curation_docs": 30, "curation_slices": 3}

    def lanes(self, root, seed):
        data = os.path.join(root, "data")
        if not os.path.exists(data):
            gen.write_tables(data, 0.001, 42)
        out = os.path.join(root, f"lanes{seed}-{len(os.listdir(root))}")
        gen.lane_inputs(data, out, seed, self.cfg)
        return out

    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as root:
            a, b = self.lanes(root, 7), self.lanes(root, 7)
            for lane in ("ingest", "scan", "curation"):
                names = sorted(os.listdir(os.path.join(a, lane)))
                self.assertEqual(names, sorted(os.listdir(
                    os.path.join(b, lane))))
                for n in names:
                    pa, pb = (os.path.join(x, lane, n) for x in (a, b))
                    self.assertTrue(filecmp.cmp(pa, pb, shallow=False), n)
                    self.assertEqual(os.stat(pa).st_mtime,
                                     os.stat(pb).st_mtime)
            c = self.lanes(root, 8)
            self.assertFalse(filecmp.cmp(
                os.path.join(a, "scan", "slice-00000.parquet"),
                os.path.join(c, "scan", "slice-00000.parquet"),
                shallow=False))

    def test_slices_are_released_in_file_order(self):
        with tempfile.TemporaryDirectory() as root:
            out = self.lanes(root, 1)
            for lane in ("ingest", "scan", "curation"):
                d = os.path.join(out, lane)
                names = sorted(os.listdir(d))
                mtimes = [os.stat(os.path.join(d, n)).st_mtime for n in names]
                self.assertEqual(mtimes, sorted(set(mtimes)))


class BenchmarkFile(unittest.TestCase):
    def test_per_layer_list_matches_the_harness(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.per_layer_names())
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         list(metrics.END_TO_END))


if __name__ == "__main__":
    unittest.main()
