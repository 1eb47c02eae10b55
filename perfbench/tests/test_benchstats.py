"""Unit tests for the benchmark's pure code.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchstats as bs  # noqa: E402


def row(wall, build=0, analysis=0, optimization=0, planning=0, exec_=0, ok=True):
    return {"wall_ms": wall, "build_ms": build, "analysis_ms": analysis,
            "optimization_ms": optimization, "planning_ms": planning, "exec_ms": exec_,
            "ok": ok}


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count(self):
        self.assertEqual(bs.percentile([3, 1, 2], 50), (2, 3))

    def test_interpolates_between_ranks(self):
        self.assertEqual(bs.percentile([0, 10], 80)[0], 8)
        self.assertEqual(bs.percentile(list(range(11)), 80), (8, 11))

    def test_extremes(self):
        self.assertEqual(bs.percentile([5, 9, 7], 0)[0], 5)
        self.assertEqual(bs.percentile([5, 9, 7], 100)[0], 9)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            bs.percentile([], 50)

    def test_quartiles_match_statistics(self):
        xs = [4.0, 1.0, 9.0, 7.0, 3.0, 8.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(bs.quartiles(xs), (q1, q2, q3))

    def test_per_query_medians(self):
        rows = [{"query": "a", "v": 1}, {"query": "a", "v": 3}, {"query": "b", "v": 2}]
        self.assertEqual(bs.per_query_medians(rows, "v"), {"a": 2, "b": 2})


class LayerSumTest(unittest.TestCase):
    def test_exact_split_passes(self):
        self.assertEqual(bs.layer_sum_check([row(100, 20, 1, 4, 15, 60)]), [])

    def test_unaccounted_time_is_not_a_layer(self):
        # 10 ms outside every layer: the writer's dispatch, reported as
        # left over, and it counts against the 5%
        r = row(100, 20, 1, 4, 5, 60)
        self.assertEqual(bs.unaccounted_ms(r), 10)
        self.assertEqual(bs.layer_sum_check([r]), [r])

    def test_five_percent_miss_passes(self):
        self.assertEqual(bs.layer_sum_check([row(1000, exec_=951)]), [])

    def test_larger_miss_fails(self):
        r = row(1000, build=100, exec_=800)
        self.assertEqual(bs.layer_sum_check([r]), [r])
        self.assertAlmostEqual(bs.layer_gap(r), 0.1)

    def test_over_count_fails(self):
        r = row(1000, build=500, exec_=600)
        self.assertEqual(bs.layer_sum_check([r]), [r])
        self.assertAlmostEqual(bs.layer_gap(r), -0.1)

    def test_clock_resolution_floor(self):
        # 2 ms of 20 ms is 10%, but within the millisecond-clock floor
        self.assertEqual(bs.layer_sum_check([row(20, exec_=18)]), [])

    def test_failed_queries_are_not_checked(self):
        self.assertEqual(bs.layer_sum_check([row(1000, ok=False)]), [])


class OverheadTest(unittest.TestCase):
    @staticmethod
    def samples(walls):
        return [{"query": q, "wall_ms": w} for q, w in walls]

    def test_traced_minus_untraced_per_query_medians(self):
        traced = self.samples([("a", 110), ("b", 220)])
        untraced = self.samples([("a", 100), ("b", 200), ("b", 180)])
        over_ms, frac = bs.overhead(traced, untraced)
        self.assertAlmostEqual(over_ms, 40)
        self.assertAlmostEqual(frac, 40 / 290)

    def test_missing_untraced_samples_fail(self):
        with self.assertRaises(ValueError):
            bs.overhead(self.samples([("a", 110)]), [])

    def test_queries_must_match(self):
        with self.assertRaises(ValueError):
            bs.overhead(self.samples([("a", 110), ("b", 1)]), self.samples([("a", 100)]))


class DiffRuleTest(unittest.TestCase):
    def test_pair_wins_lower_is_better(self):
        self.assertEqual(bs.pair_wins([10, 10, 10], [9, 11, 10], "lower"), (1, 1, 1))

    def test_pair_wins_higher_is_better(self):
        self.assertEqual(bs.pair_wins([10, 10], [11, 9], "higher"), (1, 1, 0))

    def test_gain_needs_nine_tenths_of_pairs_and_a_gap_beyond_the_spread(self):
        base = [100, 101, 102, 99, 100, 101, 100, 102, 99, 100]
        change = [90, 91, 92, 89, 90, 91, 90, 92, 89, 90]
        self.assertEqual(bs.verdict(base, change, "lower", 0.1), "gain")

    def test_eight_of_ten_wins_is_not_a_gain(self):
        base = [100] * 10
        change = [90] * 8 + [110, 110]
        self.assertNotEqual(bs.verdict(base, change, "lower", 0.5), "gain")

    def test_gap_inside_the_base_spread_is_not_a_gain(self):
        base = [80, 120, 80, 120, 80, 120, 80, 120, 80, 120]
        change = [79, 119, 79, 119, 79, 119, 79, 119, 79, 119]
        self.assertNotEqual(bs.verdict(base, change, "lower", 0.5), "gain")

    def test_regression_beyond_bound(self):
        base = [100, 101, 99, 100, 100]
        change = [120, 121, 119, 120, 120]
        self.assertEqual(bs.verdict(base, change, "lower", 0.1), "regression")
        self.assertEqual(bs.verdict(base, change, "lower", 0.25), "same")

    def test_regression_when_higher_is_better(self):
        self.assertEqual(bs.verdict([10, 10, 10], [8, 8, 8], "higher", 0.1), "regression")

    def test_wide_base_spread_is_unresolved(self):
        base = [50, 150, 50, 150, 100]
        change = [60, 140, 55, 145, 100]
        self.assertEqual(bs.verdict(base, change, "lower", 0.1), "unresolved")


if __name__ == "__main__":
    unittest.main()
