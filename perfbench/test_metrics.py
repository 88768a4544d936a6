"""Tests for the benchmark's own helpers: python3 -m unittest discover -s perfbench"""
import unittest

import layers
import metrics


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        values = list(range(1, 41))          # 40 samples
        value, pct, n = metrics.tail(values)
        self.assertEqual((value, pct, n), (30, 75.0, 40))
        self.assertEqual(sum(1 for v in values if v > value), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 3)[0], metrics.tail(sorted([5, 1, 4, 2, 3] * 3))[0])

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail([1.0] * 10), (1.0, 100.0, 10))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))

    def test_eleven_samples_give_the_minimum(self):
        self.assertEqual(metrics.tail(list(range(11)))[0], 0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)

    def test_union_of_nested_and_touching_intervals(self):
        self.assertAlmostEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12.0)

    def test_union_ignores_empty_intervals(self):
        self.assertEqual(metrics.union_length([(4, 4), (5, 1)]), 0.0)

    def test_job_accounting(self):
        # two overlapping jobs in a 10 s op: busy 4 s, summed 5 s
        acc = metrics.job_accounting(10.0, [(1, 4), (2, 5)])
        self.assertAlmostEqual(acc["job_busy"], 4.0)
        self.assertAlmostEqual(acc["driver_gap"], 6.0)
        self.assertAlmostEqual(acc["job_overlap"], 1.5)

    def test_job_accounting_without_jobs(self):
        acc = metrics.job_accounting(2.0, [])
        self.assertEqual((acc["job_busy"], acc["driver_gap"], acc["job_overlap"]), (0.0, 2.0, 0.0))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": "op", "parent": None, "start": 0, "end": 10},
            {"id": "a", "parent": "op", "start": 1, "end": 4},
            {"id": "b", "parent": "op", "start": 3, "end": 6},   # overlaps a
            {"id": "c", "parent": "a", "start": 1, "end": 2},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st, {"op": 5, "a": 2, "b": 3, "c": 1})

    def test_children_are_clipped_to_the_parent(self):
        spans = [{"id": "p", "parent": None, "start": 0, "end": 4},
                 {"id": "k", "parent": "p", "start": 3, "end": 9}]
        self.assertEqual(metrics.self_times(spans)["p"], 3)


class AttributeTest(unittest.TestCase):
    OPS = [{"start_ms": 0, "end_ms": 5}, {"start_ms": 10, "end_ms": 15}]

    def test_events_land_in_the_op_slot(self):
        self.assertEqual(metrics.attribute(self.OPS, 3), 0)
        self.assertEqual(metrics.attribute(self.OPS, 7), 0)      # late delivery
        self.assertEqual(metrics.attribute(self.OPS, 10), 1)
        self.assertIsNone(metrics.attribute(self.OPS, -1))
        self.assertIsNone(metrics.attribute(self.OPS, 5000))

    def test_strict_attribution_needs_the_op_interval(self):
        self.assertEqual(metrics.attribute(self.OPS, 3, strict=True), 0)
        self.assertIsNone(metrics.attribute(self.OPS, 7, strict=True))  # between ops
        self.assertEqual(metrics.attribute(self.OPS, 15, strict=True), 1)
        self.assertIsNone(metrics.attribute(self.OPS, 17, strict=True))


class CompareTest(unittest.TestCase):
    def test_gain_needs_nine_tenths_of_pairs_and_a_gap_beyond_the_iqr(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [p - 1.0 for p in parent]
        row = metrics.compare(parent, change, "lower", 0.1)
        self.assertEqual(row["verdict"], "gain")
        self.assertEqual(row["wins"], 10)

    def test_eight_wins_of_ten_is_not_a_gain(self):
        parent = [10.0] * 10
        change = [9.0] * 8 + [10.5] * 2
        self.assertNotEqual(metrics.compare(parent, change, "lower", 0.1)["verdict"], "gain")

    def test_small_gap_is_not_a_gain(self):
        parent = [9.0, 9.5, 10.0, 10.5, 11.0, 9.0, 9.5, 10.0, 10.5, 11.0]
        change = [p - 0.05 for p in parent]     # wins every pair, gap < IQR
        self.assertEqual(metrics.compare(parent, change, "lower", 0.5)["verdict"], "no change")

    def test_higher_is_better(self):
        parent = [1.0] * 10
        change = [2.0] * 10
        self.assertEqual(metrics.compare(parent, change, "higher", 0.1)["verdict"], "gain")
        self.assertEqual(metrics.compare(change, parent, "higher", 0.1)["verdict"], "regression")

    def test_wide_spread_is_unresolved(self):
        parent = [5.0, 10.0, 15.0, 5.0, 10.0, 15.0, 5.0, 10.0, 15.0, 10.0]
        change = [6.0, 11.0, 14.0, 4.0, 12.0, 15.0, 5.0, 9.0, 16.0, 10.0]
        self.assertEqual(metrics.compare(parent, change, "lower", 0.1)["verdict"], "unresolved")

    def test_regression_beyond_the_bound(self):
        parent = [10.0] * 10
        change = [12.0] * 10
        self.assertEqual(metrics.compare(parent, change, "lower", 0.1)["verdict"], "regression")

    def test_more_failed_ops_is_never_a_gain(self):
        parent = [10.0] * 10
        change = [5.0] * 10
        self.assertEqual(metrics.compare(parent, change, "lower", 0.1, 0, 1)["verdict"], "failed")
        self.assertEqual(metrics.compare(parent, change, "lower", 0.1, 1, 1)["verdict"], "gain")


class EndToEndTest(unittest.TestCase):
    def test_errored_ops_are_left_out_of_latency_but_counted_failed(self):
        def op(name, wall, error=""):
            return {"name": name, "phase": "pass0", "wall_s": wall, "error": error}
        raw = {"ops": [op("a", 2.0), op("b", 4.0), op("c", 0.01, "boom")],
               "checks": [{"name": "a", "ok": True}], "pass_heap_mb": [100.0]}
        out = layers.end_to_end(raw, "queries")
        self.assertEqual(out["metrics"]["op_p50_s"], 3.0)
        self.assertEqual(out["metrics"]["op_tail_s"], 4.0)
        self.assertEqual((out["attempted"], out["failed"]), (4, 1))


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        import statistics
        v = [3.1, 2.0, 5.5, 4.4, 1.2, 9.9, 7.0, 6.1, 8.8, 0.5]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        self.assertEqual(metrics.quartiles(v), (q1, q2, q3))
        self.assertAlmostEqual(metrics.spread(v), (q3 - q1) / q2)


if __name__ == "__main__":
    unittest.main()
