"""Unit tests for the benchmark's arithmetic: python3 -m unittest discover -s perfbench"""

import unittest

import stats


class NearestRank(unittest.TestCase):
    def test_nearest_rank_picks_a_sample(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(xs, 50), 50)
        self.assertEqual(stats.nearest_rank(xs, 95), 95)
        self.assertEqual(stats.nearest_rank(xs, 100), 100)
        self.assertEqual(stats.nearest_rank([7, 3, 5], 50), 5)
        self.assertEqual(stats.nearest_rank([4], 95), 4)

    def test_ten_beyond_rule(self):
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertTrue(stats.has_tail(200, 95))
        self.assertFalse(stats.has_tail(199, 95))
        self.assertEqual(stats.min_samples(95), 200)
        self.assertEqual(stats.min_samples(75), 40)
        self.assertEqual(stats.min_samples(50), 20)
        self.assertFalse(stats.has_tail(0, 50))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.nearest_rank([], 50)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(3, 4), (0, 10)]), 10)
        self.assertEqual(stats.union_length([(0, 5), (5, 8)]), 8)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (9, 2)]), 0)

    def test_self_time_is_span_minus_union_of_children(self):
        self.assertEqual(stats.self_time((0, 100), []), 100)
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (60, 70)]), 60)
        # children are clipped to the span
        self.assertEqual(stats.self_time((10, 20), [(0, 15), (18, 30)]), 3)
        self.assertEqual(stats.self_time((0, 10), [(0, 10), (2, 3)]), 0)


class BusyRatio(unittest.TestCase):
    def test_task_time_over_job_wall_times_cores(self):
        self.assertAlmostEqual(stats.busy_ratio(400, [100, 100], 4), 0.5)
        self.assertAlmostEqual(stats.busy_ratio(800, [200], 4), 1.0)
        self.assertEqual(stats.busy_ratio(10, [], 4), 0.0)


if __name__ == "__main__":
    unittest.main()
