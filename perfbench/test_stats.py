"""Tests of the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(999), 98.9)
        self.assertEqual(stats.tail_percentile(1_000), 99.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(36), 72.2)
        self.assertEqual(stats.tail_percentile(12), 50.0)

    def test_tail_leaves_at_least_ten_samples_beyond(self):
        for n in [20, 37, 100, 999, 1000, 1001, 12_345]:
            p = stats.tail_percentile(n)
            beyond = n - stats.percentile(list(range(1, n + 1)), p)
            self.assertGreaterEqual(beyond, 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_summary_reports_sample_count(self):
        s = stats.summarize([float(i) for i in range(1000)])
        self.assertEqual((s["n"], s["tail_pct"], s["p50"], s["tail"]), (1000, 99.0, 499.0, 989.0))

    def test_tail_is_p99_once_ten_samples_lie_beyond_it(self):
        self.assertEqual(stats.tail_percentile(10_000), 99.0)
        # 5,000 released events: p99 over the events, not over their chunks
        s = stats.summarize([float(i) for i in range(5000)])
        self.assertEqual((s["n"], s["tail_pct"], s["tail"]), (5000, 99.0, 4949.0))


class TriggerThroughput(unittest.TestCase):
    def test_rows_per_second_of_trigger_execution_inside_the_window(self):
        starts = [0, 1_000_000_000, 2_000_000_000, 9_000_000_000]
        trigger_ms = [500, 250, 250, 500]
        rows = [400, 300, 200, 999]
        # the first batch starts before the window and the last after it
        self.assertAlmostEqual(
            stats.trigger_throughput(starts, trigger_ms, rows, (500_000_000, 8_000_000_000)), 1000.0)

    def test_an_empty_window_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.trigger_throughput([0], [100], [10], (500, 1000))

    def test_a_batch_without_progress_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.trigger_throughput([600], [-1], [10], (500, 1000))


class DueTimeDelay(unittest.TestCase):
    def test_delay_is_measured_from_the_chunk_due_time(self):
        # chunks of 100 events every 100 ms from t0 = 5 s; ids start at 60,000
        t0, period = 5_000_000_000, 100_000_000
        ids = [60_000, 60_099, 60_100, 60_250]
        seen = [t0 + 30_000_000, t0 + 30_000_000, t0 + 350_000_000, t0 + 200_000_000]
        self.assertEqual(stats.due_delays_ms(ids, seen, t0, period, 100, 60_000),
                         [30.0, 30.0, 250.0, 0.0])

    def test_a_stall_delays_later_events(self):
        # the schedule never slows down: a chunk seen late counts its lateness
        t0, period = 0, 100_000_000
        delays = stats.due_delays_ms([0, 100, 200], [900_000_000] * 3, t0, period, 100, 0)
        self.assertEqual(delays, [900.0, 800.0, 700.0])

    def test_generator_lag(self):
        self.assertEqual(stats.generator_lag_ms([1_000_000, 102_000_000, 200_500_000], 0, 100_000_000),
                         [1.0, 2.0, 0.5])


class RouteClassification(unittest.TestCase):
    def test_routes_from_step_returns(self):
        out = [0, 0, 10, 1, 1, 0, 1]
        supp = [0, 0, 0, 0, 1, 0, 0]
        self.assertEqual(stats.classify_routes(out, supp, 10),
                         {"fresh": 1, "reuse": 2, "suppressed": 1, "buffered": 3})

    def test_unexpected_release_size_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.classify_routes([3], [0], 10)


class SpanSelfTime(unittest.TestCase):
    @staticmethod
    def span(i, layer, a, b, parent=-1, infer=False):
        return {"id": i, "name": layer, "layer": layer, "start_ns": a, "end_ns": b,
                "parent": parent, "infer_parent": infer}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(0, "entry", 0, 100),
                 self.span(1, "spark.sched", 10, 40, parent=0),
                 self.span(2, "spark.sched", 30, 60, parent=0),  # overlaps span 1
                 self.span(3, "spark.task", 20, 35, parent=1)]
        self.assertEqual(stats.self_times_ns(spans),
                         {"entry": 50, "spark.sched": 30 - 15 + 30, "spark.task": 15})

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, "sink", 0, 10), self.span(1, "spark.sched", 5, 20, parent=0)]
        self.assertEqual(stats.self_times_ns(spans)["sink"], 5)

    def test_parent_inferred_from_the_shortest_containing_span(self):
        spans = [self.span(0, "streaming", 0, 1_000_000_000, infer=True),
                 self.span(1, "sink", 100, 900_000_000, infer=True),
                 self.span(2, "spark.sched", 200, 800_000_000, infer=True),
                 self.span(3, "sources", 300, 400)]
        stats.infer_parents(spans)
        self.assertEqual([s["parent"] for s in spans], [-1, 0, 1, -1])

    def test_unaccounted_share(self):
        spans = [self.span(0, "entry", 0, 40), self.span(1, "entry", 30, 60),
                 self.span(2, "entry", 90, 120)]
        self.assertAlmostEqual(stats.unaccounted_share(spans, (0, 100)), 0.3)


class GeneratorDeterminism(unittest.TestCase):
    def digest(self, seed, fn):
        with tempfile.TemporaryDirectory() as d:
            fn(seed, d)
            h = hashlib.sha256()
            for name in sorted(os.listdir(d)):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
            return h.hexdigest()

    def check(self, fn):
        self.assertEqual(self.digest(7, fn), self.digest(7, fn))
        self.assertNotEqual(self.digest(7, fn), self.digest(8, fn))

    def test_paced_content(self):
        self.check(lambda seed, d: gen.write_parquet(gen.paced_content(seed, 5000),
                                                     os.path.join(d, "c.parquet")))

    def test_sparse_backlog(self):
        self.check(lambda seed, d: gen.write_parquet(gen.sparse_events(seed, 5000),
                                                     os.path.join(d, "e.parquet")))

    def test_event_values_follow_the_testdata(self):
        # sf0.1 `events.value`: mean 49.9, median 34.8 (exponential, mean 50)
        v = sorted(gen.paced_content(5, 20_000).column("value").to_pylist())
        self.assertTrue(47 < sum(v) / len(v) < 53)
        self.assertTrue(32 < v[len(v) // 2] < 37.5)

    def test_sparse_backlog_event_time(self):
        ts = gen.sparse_events(3, 20_000).column("ts").cast("int64").to_pylist()
        mean_gap_s = (ts[-1] - ts[0]) / (len(ts) - 1) / 1e6
        self.assertTrue(20 < mean_gap_s < 32, mean_gap_s)
        self.assertEqual(ts, sorted(ts))


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json declares exactly the metrics and workloads run.py has."""

    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_per_layer_metrics(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["per_layer"]],
                         [(n, run.unit_of(n)) for n in run.PER_LAYER])

    def test_per_layer_directions(self):
        self.assertLessEqual(run.HIGHER, set(run.PER_LAYER))
        self.assertEqual({m["name"]: m["better"] for m in self.b["per_layer"]},
                         {n: "higher" if n in run.HIGHER else "lower" for n in run.PER_LAYER})

    def test_end_to_end_metrics(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["end_to_end"]],
                         [(n, u) for n, u in run.E2E_UNITS.items()])

    def test_workloads(self):
        self.assertTrue({w["name"] for w in self.b["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
