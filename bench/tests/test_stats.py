import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftbench import stats  # noqa: E402


def span(id, parent, start, end):
    return {"id": id, "parent": parent, "start_ns": start, "end_ns": end}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)

    def test_single_value(self):
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_quartile_spread(self):
        # statistics.quantiles([1..9], n=4) = [2.5, 5, 7.5]
        self.assertAlmostEqual(stats.quartile_spread(list(range(1, 10))), 1.0)
        self.assertEqual(stats.quartile_spread([3.0] * 5), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(1, 0, 10, 25)]), {1: 15})

    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60), span(4, 2, 12, 20)]
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 12, 3: 10, 4: 8})

    def test_overlapping_children_count_once(self):
        # two clients' children overlap in [20, 30): covered = [10, 40)
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 40)]
        self.assertEqual(stats.self_times(spans)[1], 70)

    def test_child_clipped_to_parent(self):
        spans = [span(1, 0, 0, 50), span(2, 1, 40, 80)]
        self.assertEqual(stats.self_times(spans)[1], 40)


class OverheadTest(unittest.TestCase):
    def op(self, kind, dur, traced):
        return {"kind": kind, "dur_s": dur, "traced": traced}

    def test_median_ratio_over_kinds(self):
        ops = [self.op("a", 1.0, False), self.op("a", 1.1, True),
               self.op("b", 2.0, False), self.op("b", 2.0, True), self.op("b", 2.4, True),
               self.op("c", 4.0, False), self.op("c", 5.0, True)]
        # ratios: a 1.1, b 1.1, c 1.25 -> median 1.1
        self.assertAlmostEqual(stats.tracing_overhead(ops), 0.1)

    def test_kinds_run_one_way_only_are_ignored(self):
        ops = [self.op("a", 1.0, False), self.op("a", 0.9, True), self.op("b", 9.0, True)]
        self.assertAlmostEqual(stats.tracing_overhead(ops), -0.1)

    def test_none_without_pairs(self):
        self.assertIsNone(stats.tracing_overhead([self.op("a", 1.0, True)]))


class LoopFiguresTest(unittest.TestCase):
    def op(self, kind, dur, records=10, ok=True):
        return {"kind": kind, "dur_s": dur, "records": records, "ok": ok}

    def test_kind_medians(self):
        ops = [self.op("a", 1.0, 10), self.op("a", 3.0, 30), self.op("a", 2.0, 20), self.op("b", 5.0, 7)]
        self.assertEqual(stats.kind_medians(ops), {"a": (2.0, 20), "b": (5.0, 7)})

    def test_typical_latency_is_geometric_mean_of_kind_medians(self):
        ops = [self.op("a", 1.0), self.op("a", 1.0), self.op("a", 100.0), self.op("b", 4.0)]
        self.assertAlmostEqual(stats.typical_latency(ops), 2.0)

    def test_typical_latency_ignores_how_often_a_kind_ran(self):
        once = [self.op("a", 1.0), self.op("b", 9.0)]
        skewed = once + [self.op("a", 1.0)] * 5
        self.assertAlmostEqual(stats.typical_latency(once), stats.typical_latency(skewed))

    def test_closed_loop_rates(self):
        # per round each client runs a (1 s) and b (3 s): 2 ops, 40 records in 4 s
        ops = [self.op("a", 1.0, 10), self.op("a", 1.0, 10), self.op("b", 3.0, 30), self.op("b", 3.0, 30)]
        ops_per_s, records_per_s = stats.closed_loop_rates(ops, 1)
        self.assertAlmostEqual(ops_per_s, 0.5)
        self.assertAlmostEqual(records_per_s, 10.0)
        self.assertAlmostEqual(stats.closed_loop_rates(ops, 2)[0], 1.0)

    def test_closed_loop_rates_ignore_one_outlier_per_kind(self):
        ops = [self.op("a", 1.0), self.op("a", 1.0), self.op("a", 50.0)]
        self.assertAlmostEqual(stats.closed_loop_rates(ops, 1)[0], 1.0)

    def test_failed_ops_scale_the_rates(self):
        ops = [self.op("a", 1.0), self.op("a", 1.0, ok=False)]
        self.assertEqual(stats.closed_loop_rates(ops, 1), (0.5, 5.0))


if __name__ == "__main__":
    unittest.main()
