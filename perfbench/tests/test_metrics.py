"""Unit tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics as M  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertFalse(M.reportable(99, 0.9))
        self.assertTrue(M.reportable(100, 0.9))
        self.assertIsNone(M.percentile_or_none(list(range(99)), 0.9))
        self.assertAlmostEqual(M.percentile_or_none(list(range(101)), 0.9), 90.0)

    def test_p50_needs_twenty(self):
        self.assertFalse(M.reportable(19, 0.5))
        self.assertTrue(M.reportable(20, 0.5))

    def test_quantile_interpolates(self):
        self.assertEqual(M.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(M.quantile([1, 2, 3, 4, 5], 0.9), 4.6)
        self.assertEqual(M.median([3, 1, 2]), 2)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(M.union([(5, 7), (0, 2), (1, 3), (3, 4)]),
                         [(0, 4), (5, 7)])
        self.assertEqual(M.length([(0, 2), (1, 3), (10, 11)]), 4)

    def test_self_time_subtracts_union_of_children(self):
        # children overlap each other: counted once; the part outside the
        # parent is not subtracted
        self.assertEqual(M.self_time((0, 100), [(10, 30), (20, 40),
                                                (90, 120)]), 100 - 30 - 10)
        self.assertEqual(M.self_time((0, 10), []), 10)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        # two concurrent jobs [10,50] and [30,60], one outside the wall
        self.assertEqual(M.driver_gap((0, 100), [(10, 50), (30, 60),
                                                 (200, 300)]), 100 - 50)

    def test_intersection_of_unions(self):
        self.assertEqual(M.intersection_length([(0, 10), (20, 30)],
                                               [(5, 25)]), 5 + 5)

    def test_account_parts_add_up_to_the_wall(self):
        parts = M.account((0, 1000), jobs=[(100, 400), (300, 600)],
                          kernels=[(150, 350), (320, 500)],
                          store=[(550, 700), (800, 850)])
        self.assertEqual(parts["kernel"], 200 + 150)
        self.assertEqual(parts["spark"], 500 - 350)
        self.assertEqual(parts["store"], 100 + 50)
        self.assertEqual(parts["gap"], 500)
        self.assertEqual(parts["kernel"] + parts["spark"] + parts["store"] +
                         parts["unaccounted"], parts["wall"])


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_the_scheduled_send(self):
        # the generator stalled 300 ms before sending: the request still
        # counts the stall, and lateness reports it
        due, sent, seen = 1000, 1300, 1800
        self.assertEqual(M.open_loop_latency(due, seen), 800)
        self.assertEqual(M.lateness(due, sent), 300)
        self.assertEqual(M.lateness(due, due - 5), 0)


if __name__ == "__main__":
    unittest.main()
