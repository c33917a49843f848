import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail(range(19)))

    def test_twenty_samples_give_the_median(self):
        p, value, n = stats.tail(range(1, 21))
        self.assertEqual((p, value, n), (50.0, 10, 20))

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(range(1, 40))[0], 50.0)
        self.assertEqual(stats.tail(range(1, 41))[:2], (75.0, 30))
        self.assertEqual(stats.tail(range(1, 100))[0], 75.0)
        self.assertEqual(stats.tail(range(1, 101))[:2], (90.0, 90))
        self.assertEqual(stats.tail(range(1, 201))[:2], (95.0, 190))
        self.assertEqual(stats.tail(range(1, 1001))[:2], (99.0, 990))
        self.assertEqual(stats.tail(range(1, 10001))[:2], (99.9, 9990))

    def test_samples_beyond_the_tail_are_counted_strictly(self):
        for n in range(20, 500):
            p, value, _ = stats.tail(range(1, n + 1))
            self.assertGreaterEqual(sum(1 for x in range(1, n + 1) if x > value), 10)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4] * 10), stats.tail(sorted([5, 1, 4] * 10)))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])

    def test_self_time_with_overlapping_children(self):
        # children overlap each other and stick out past the parent
        parent = (0, 100)
        children = [(10, 40), (30, 60), (90, 120)]
        self.assertEqual(stats.self_time(parent, children), 100 - 50 - 10)

    def test_self_time_with_nested_and_duplicate_children(self):
        self.assertEqual(stats.self_time((0, 10), [(2, 8), (3, 4), (2, 8)]), 4)

    def test_self_time_without_children_is_the_duration(self):
        self.assertEqual(stats.self_time((3, 9), []), 6)

    def test_driver_only_under_overlapping_jobs(self):
        # two jobs overlap (AQE runs stages concurrently); one is empty
        span = (0, 1000)
        jobs = [(100, 400), (300, 500), (700, 700), (800, 1200)]
        self.assertEqual(stats.driver_only(span, jobs), 1000 - 400 - 200)

    def test_driver_only_is_zero_when_jobs_cover_the_span(self):
        self.assertEqual(stats.driver_only((0, 10), [(-5, 6), (6, 15)]), 0)


if __name__ == "__main__":
    unittest.main()
