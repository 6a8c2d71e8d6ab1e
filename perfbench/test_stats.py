"""Tests for the benchmark's statistics code. Run: python3 perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(9999), 99.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile(range(101), 99), 99)
        self.assertEqual(stats.percentile([7], 99.9), 7)

    def test_geomean_weighs_ratios(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([4]), 4)
        self.assertAlmostEqual(stats.geomean([2, 8]) * 2, stats.geomean([4, 16]))


class OpenLoopLatency(unittest.TestCase):
    def simulate(self, stall_at_ms=None, stall_ms=0):
        """One row due every ms; a server that takes 0.5 ms per row and
        freezes once for `stall_ms`. Returns due and completion times (ns)."""
        due, done = [], []
        free_at = 0.0
        for i in range(200):
            t_due = float(i)
            start = max(t_due, free_at)
            if stall_at_ms is not None and i == stall_at_ms:
                start += stall_ms
            free_at = start + 0.5
            due.append(int(t_due * 1e6))
            done.append(int(free_at * 1e6))
        return due, done

    def test_stall_charges_rows_queued_behind_it(self):
        due, done = self.simulate()
        base = stats.latencies_ms(due, done)
        due_s, done_s = self.simulate(stall_at_ms=100, stall_ms=20)
        stalled = stats.latencies_ms(due_s, done_s)
        self.assertEqual(base[:100], stalled[:100])
        # the stalled row and the rows that arrived during the stall all wait
        self.assertTrue(all(s > b for s, b in zip(stalled[100:115], base[100:115])))
        self.assertAlmostEqual(stalled[100], 20.5)
        self.assertAlmostEqual(stalled[110], 10.5 + 5.0)
        # latency from the send time would hide the queueing: each row is
        # sent when the server takes it, so its service time is 0.5 ms
        self.assertGreater(stats.percentile(stalled, 99), stats.percentile(base, 99) + 10)

    def test_backlog(self):
        due = [0, 1, 2, 3]
        done = [5, 5, 6, 10]
        self.assertEqual(stats.backlog_at(3, due, done), 4)
        self.assertEqual(stats.backlog_at(5, due, done), 2)
        self.assertEqual(stats.backlog_at(10, due, done), 0)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            (1, 0, "run", 0, 100),
            (2, 1, "entry", 10, 60),
            (3, 2, "define", 10, 20),
            (4, 2, "action", 20, 58),
            (5, 4, "job", 25, 40),
            (6, 4, "job", 35, 50),   # overlaps the first job
            (7, 5, "stage", 26, 30),
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)
        self.assertEqual(st[2], 50 - (10 + 38))
        self.assertEqual(st[4], 38 - 25)   # jobs cover 25..50 once
        self.assertEqual(st[5], 15 - 4)
        self.assertEqual(st[6], 15)
        by_name = stats.self_time_by_name(spans)
        self.assertEqual(by_name["job"], 11 + 15)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([(1, 0, "trigger", 0, 10), (2, 1, "state_commit", 8, 14)])
        self.assertEqual(st[1], 8)


class InfoLoss(unittest.TestCase):
    def test_hand_worked_release(self):
        # two QIDs, domains user_id [0, 100] and value [0, 50]
        # row 1: user_id [10, 30] -> 0.2, value [5, 10] -> 0.1, mean 0.15
        # row 2: user_id [0, 100] -> 1.0, value [0, 50] -> 1.0, mean 1.0 (suppressed)
        # row 3: user_id [40, 40] -> 0.0, value [20, 45] -> 0.5, mean 0.25
        intervals = [([10, 0, 40], [30, 100, 40]), ([5, 0, 20], [10, 50, 45])]
        self.assertAlmostEqual(stats.info_loss(intervals, [(0, 100), (0, 50)]), 1.4 / 3)

    def test_zero_width_domain_contributes_nothing(self):
        intervals = [([3], [3]), ([0], [5])]
        self.assertAlmostEqual(stats.info_loss(intervals, [(3, 3), (0, 10)]), 0.25)


if __name__ == "__main__":
    unittest.main()
