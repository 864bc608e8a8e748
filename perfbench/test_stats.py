"""Unit tests for the benchmark's pure parts:
python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        values = list(range(1, 101))  # 100 samples: 10 lie beyond p90
        self.assertEqual(stats.tail(values), (90, 0.9, 100))

    def test_small_sample_reports_highest_supported_quantile(self):
        values = list(range(1, 41))  # 40 samples support p75 at most
        value, q, n = stats.tail(values)
        self.assertEqual((q, n), (0.75, 40))
        self.assertEqual(value, 30)

    def test_never_below_the_median(self):
        value, q, n = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((value, q, n), (2.0, 0.5, 3))
        self.assertEqual(stats.tail([4.0, 1.0, 2.0, 3.0])[0], 2.5)

    def test_empty(self):
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return {"id": id_, "parent": parent, "start_us": start, "end_us": end}

    def test_children_overlap_counted_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60), self.span(4, 2, 12, 20)]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs[1], 100 - 50)  # children cover [10, 60)
        self.assertEqual(selfs[2], 30 - 8)    # grandchild counts for 2 only
        self.assertEqual(selfs[4], 8)

    def test_child_clipped_to_parent(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 5, 20)]
        self.assertEqual(stats.self_times(spans)[1], 5)

    def test_driver_gap(self):
        span = self.span(1, 0, 0, 100)
        jobs = [{"start_us": 10, "end_us": 30}, {"start_us": 20, "end_us": 50},
                {"start_us": 90, "end_us": 120}]
        self.assertEqual(stats.driver_gap(span, jobs), 100 - 40 - 10)


class WinRuleTest(unittest.TestCase):
    def test_clear_gain(self):
        pairs = [(10.0 + i * 0.01, 8.0) for i in range(10)]
        claimed, wins, n, _ = stats.win_rule(pairs, "lower")
        self.assertTrue(claimed)
        self.assertEqual((wins, n), (10, 10))

    def test_too_few_pairs(self):
        self.assertFalse(stats.win_rule([(10.0, 8.0)] * 9, "lower")[0])

    def test_nine_tenths_of_all_pairs_ties_count_for_neither(self):
        pairs = [(10.0, 8.0)] * 8 + [(10.0, 10.0)] * 2
        claimed, wins, n, reason = stats.win_rule(pairs, "lower")
        self.assertFalse(claimed)
        self.assertEqual((wins, n), (8, 10))
        pairs = [(10.0, 8.0)] * 9 + [(10.0, 10.0)]
        self.assertTrue(stats.win_rule(pairs, "lower")[0])

    def test_gap_must_exceed_parent_iqr(self):
        parents = [9.0, 11.0] * 5
        pairs = [(p, p - 0.5) for p in parents]  # always wins, by less than the IQR
        claimed, _, _, reason = stats.win_rule(pairs, "lower")
        self.assertFalse(claimed)
        self.assertIn("IQR", reason)

    def test_higher_is_better(self):
        pairs = [(5.0, 6.0)] * 10
        self.assertTrue(stats.win_rule(pairs, "higher")[0])
        self.assertFalse(stats.win_rule(pairs, "lower")[0])


class BoundTest(unittest.TestCase):
    def test_worse_by(self):
        self.assertAlmostEqual(stats.worse_by(10.0, 11.0, "lower"), 0.1)
        self.assertAlmostEqual(stats.worse_by(10.0, 11.0, "higher"), -0.1)

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]), 3.0 / 3.0)


if __name__ == "__main__":
    unittest.main()
