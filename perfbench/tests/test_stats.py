"""Tests for the benchmark's own helpers: percentile selection, recall,
span self time, failure accounting, tracing overhead and CPU steal.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402
import stats  # noqa: E402


def span(id, parent, start, end, name="bench.op", op="op-0"):
    return {"id": id, "parent": parent, "start_ns": start, "end_ns": end, "name": name, "op": op}


def op(ok=True, wrong=False, lat=10.0, items=1, traced=False, kind="ivf", start=0, lane=0):
    return {"id": f"op-{lat}", "kind": kind, "ok": ok, "wrong": wrong, "lat_ms": lat,
            "items": items, "traced": traced, "err": "" if ok else "x",
            "response_bytes": 0, "spark": {}, "start_ns": start, "lane": lane}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(200)))[0], 95.0)   # 10 beyond p95
        self.assertEqual(stats.tail(list(range(199)))[0], 90.0)   # only 9 beyond p95
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)  # 10 beyond p99
        self.assertEqual(stats.tail(list(range(40)))[0], 75.0)    # 10 beyond p75
        self.assertIsNone(stats.tail(list(range(39))))

    def test_tail_value_is_that_percentile(self):
        xs = [float(i) for i in range(1, 201)]
        self.assertEqual(stats.tail(xs), (95.0, 190.0))

    def test_beyond_counts(self):
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertEqual(stats.beyond(10, 50), 5)


class ThroughputTest(unittest.TestCase):
    def test_lanes_each_count_over_their_own_span(self):
        s = 1_000_000_000
        ops = [op(start=0, lat=1000.0, lane=0), op(start=1 * s, lat=1000.0, lane=0),
               op(start=0, lat=4000.0, lane=1)]
        # lane 0: 2 items in 2 s; lane 1: 1 item in 4 s (still in flight
        # when lane 0 stopped, so it does not stretch lane 0's span)
        self.assertAlmostEqual(stats.throughput(ops, 0), 1.25)

    def test_failed_operations_complete_nothing(self):
        ops = [op(start=0, lat=1000.0, items=5), op(ok=False, start=0, lat=2000.0, items=5, lane=1)]
        self.assertAlmostEqual(stats.throughput(ops, 0), 5.0)


class RecallTest(unittest.TestCase):
    def test_exact_and_partial(self):
        self.assertEqual(stats.recall([([1, 2, 3], [3, 2, 1])]), 1.0)
        self.assertEqual(stats.recall([([1, 2, 9, 8], [1, 2, 3, 4])]), 0.5)

    def test_mean_over_samples(self):
        self.assertAlmostEqual(stats.recall([([1], [1]), ([2], [3])]), 0.5)

    def test_short_answer_is_penalized_and_extras_are_not_rewarded(self):
        self.assertEqual(stats.recall([([1], [1, 2])]), 0.5)
        self.assertEqual(stats.recall([([1, 2, 3], [1])]), 1.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.recall([])


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once_and_are_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50), span(4, 1, 90, 120)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[4], 30)

    def test_leaf_and_nested(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 60), span(3, 2, 10, 20)]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (40, 50, 10))

    def test_spark_spans_nest_innermost_and_never_invert(self):
        ms = 1_000_000
        spans = [span(1, 0, 0, 100 * ms), span(2, 1, 10 * ms, 90 * ms, "api.action"),
                 span(3, -1, 20 * ms, 80 * ms, "spark.sql"),
                 span(4, -1, 20 * ms, 80 * ms, "spark.job"),
                 span(5, -1, 95 * ms, 99 * ms, "spark.job"),
                 span(6, -1, 0, 1, "spark.job", op="elsewhere")]
        parents = {s["id"]: s["parent"] for s in stats.assign_parents(spans)}
        self.assertEqual(parents, {1: 0, 2: 1, 3: 2, 4: 3, 5: 1, 6: 0})

    def test_layers(self):
        self.assertEqual(stats.layer_of("spark.job"), "spark")
        self.assertEqual(stats.layer_of("index.ivf_sync"), "index")


class AccountingTest(unittest.TestCase):
    def setUp(self):
        # one forced wrong answer and one forced timeout among four operations
        self.ops = [op(lat=10.0), op(lat=11.0), op(ok=False, wrong=True, lat=12.0),
                    op(ok=False, lat=13.0)]

    def test_failures_count_against_attempts(self):
        self.assertEqual(stats.accounting(self.ops), (4, 2, 1))
        self.assertEqual(stats.failed_share(self.ops), 0.5)
        self.assertEqual(stats.failed_share([]), 1.0)

    def test_result_line(self):
        line = run.result(self.ops, {"x": 1.5}, [{"name": "x", "unit": "s", "better": "lower"}])
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (False, 4, 2))
        self.assertEqual(line["metrics"], {"x": {"value": 1.5, "unit": "s"}})

    def test_a_timeout_alone_makes_the_run_incorrect(self):
        line = run.result(self.ops[:2] + self.ops[3:], {}, [])
        self.assertEqual((line["correct"], line["failed"]), (False, 1))

    def test_all_operations_erroring_is_not_correct(self):
        line = run.result([op(ok=False, lat=10.0), op(ok=False, lat=11.0)], {}, [])
        self.assertEqual((line["correct"], line["failed"]), (False, 2))
        self.assertFalse(run.result([], {}, [])["correct"])
        self.assertTrue(run.result(self.ops[:2], {}, [])["correct"])

    def test_end_to_end(self):
        ms = 1_000_000
        ops = [op(lat=10.0, start=0), op(lat=11.0, start=989 * ms),
               op(ok=False, wrong=True, lat=12.0), op(ok=False, lat=13.0)]
        raw = {"ops": ops, "recall": [{"got": [1], "exact": [1]}],
               "facts": {"t0_ns": 0, "setup_s": [3.0, 1.0, 2.0], "warmup_s": 0.5,
                         "stored_bytes": 30, "raw_bytes": 10}}
        m = run.end_to_end(raw)
        self.assertEqual(m["ok_share"], 0.5)
        self.assertAlmostEqual(m["items_per_s"], 2.0)  # two completed items by 1 s
        self.assertEqual(m["p50_ms"], 11.5)
        self.assertEqual(m["setup_s"], 2.5)
        self.assertEqual(m["stored_bytes_ratio"], 3.0)
        self.assertEqual(sorted(m), sorted(x["name"] for x in run.BENCH["end_to_end"]))


class OverheadTest(unittest.TestCase):
    def test_against_the_untraced_run_when_there_is_one(self):
        raw = {"ops": [op(lat=12.0, traced=True), op(lat=8.0)]}
        base = {"ops": [op(lat=10.0), op(lat=9.0), op(lat=11.0)]}
        pct, basis = run.overhead(raw, base)
        self.assertAlmostEqual(pct, 20.0)
        self.assertIn("--trace 0", basis)

    def test_within_the_run_otherwise(self):
        raw = {"ops": [op(lat=12.0, traced=True), op(lat=8.0)]}
        pct, basis = run.overhead(raw, None)
        self.assertAlmostEqual(pct, 50.0)
        self.assertIn("listener cost excluded", basis)


class StealTest(unittest.TestCase):
    def test_share_of_the_interval(self):
        self.assertAlmostEqual(run.steal_share((10, 100), (30, 300)), 0.1)
        self.assertIsNone(run.steal_share(None, (30, 300)))
        self.assertIsNone(run.steal_share((10, 100), (10, 100)))


if __name__ == "__main__":
    unittest.main()
