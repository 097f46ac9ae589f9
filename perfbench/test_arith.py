"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import arith


def span(i, parent, t0, t1):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(arith.percentile(xs, 5), 15)
        self.assertEqual(arith.percentile(xs, 30), 20)
        self.assertEqual(arith.percentile(xs, 40), 20)
        self.assertEqual(arith.percentile(xs, 50), 35)
        self.assertEqual(arith.percentile(xs, 100), 50)

    def test_returns_a_sample_and_ignores_order(self):
        xs = [3.5, 1.0, 2.0, 10.0]
        self.assertEqual(arith.percentile(xs, 50), 2.0)
        self.assertEqual(arith.percentile(xs, 90), 10.0)
        self.assertEqual(arith.percentile(list(range(1, 101)), 95), 95)
        self.assertEqual(arith.percentile([7], 0), 7)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            arith.percentile([], 50)

    def test_median_of_even_count_is_the_mean(self):
        self.assertEqual(arith.median([4.0, 2.0]), 3.0)
        self.assertEqual(arith.median([5, 1, 3]), 3)


class UnionTest(unittest.TestCase):
    def test_overlap_touch_and_clip(self):
        self.assertEqual(arith.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(arith.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(arith.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(arith.union_length([(0, 1), (8, 9)], 2, 5), 0)
        self.assertEqual(arith.union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_nested_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 1, 20, 30),
                 span(3, 0, 50, 60)]
        st = arith.self_times(spans)
        self.assertEqual(st, {0: 60, 1: 20, 2: 10, 3: 10})
        self.assertEqual(sum(st.values()), 100)
        self.assertEqual(arith.self_time_gap(spans, 0), 0)

    def test_overlapping_children_count_once_in_the_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 50), span(2, 0, 30, 70)]
        self.assertEqual(arith.self_times(spans)[0], 40)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130)]
        self.assertEqual(arith.self_times(spans)[0], 90)
        self.assertEqual(arith.self_time_gap(spans, 0), 0)

    def test_gap_only_covers_the_subtree(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 2, 4), span(5, -1, 20, 30)]
        self.assertEqual(sorted(arith.subtree(spans, 0)), [0, 1])
        self.assertEqual(arith.self_time_gap(spans, 0), 0)


class StreamLatencyTest(unittest.TestCase):
    def test_hand_built_batch(self):
        # batch 7 committed at t=10_000; three window rows whose last
        # contributing events were due at 9_000, 9_500 and 8_200
        commit_end = {7: 10_000.0, 8: 11_250.0}
        rows = [(7, 9_000), (7, 9_500), (7, 8_200), (8, 11_000), (9, 11_900)]
        self.assertEqual(arith.stream_latencies(rows, commit_end, {7}),
                         [1_000.0, 500.0, 1_800.0])
        # batch 9 has no commit, batch 8 is outside the timed set
        self.assertEqual(arith.stream_latencies(rows, commit_end, {8, 9}), [250.0])

    def test_drift(self):
        self.assertEqual(arith.drift([1, 1, 1, 1, 2, 2, 2, 2]), 2.0)
        self.assertEqual(arith.drift([3]), 1.0)


class ScheduleTest(unittest.TestCase):
    def test_same_seed_same_schedule(self):
        self.assertEqual(arith.view_schedule(4), arith.view_schedule(4))
        self.assertNotEqual(arith.view_schedule(4), arith.view_schedule(5))
        self.assertEqual(arith.batch_order(4, ["a", "b", "c", "d"]),
                         arith.batch_order(4, ["a", "b", "c", "d"]))
        self.assertEqual(sorted(arith.batch_order(9, ["a", "b", "c"])), ["a", "b", "c"])
        self.assertEqual(arith.stream_offset(3, 1000), arith.stream_offset(3, 1000))

    def test_buckets_and_deletes(self):
        for seed in range(20):
            plan = arith.view_schedule(seed, buckets=100, warm=3, cycle=5, cycles=3)
            boot, ticks = plan["bootstrap"], plan["ticks"]
            self.assertEqual(len(boot), 50)
            committed = set(boot)
            deleted = set()
            for t in ticks:
                # every tick commits one bucket nobody committed before
                self.assertNotIn(t["bucket"], committed)
                committed.add(t["bucket"])
                timed_index = t["index"] - 3
                expect_delete = t["index"] == 0 or (not t["warm"] and timed_index % 5 == 4)
                self.assertEqual(t["delete"] >= 0, expect_delete)
                if t["delete"] >= 0:
                    # a delete removes a bootstrap bucket, each at most once
                    self.assertIn(t["delete"], boot)
                    self.assertNotIn(t["delete"], deleted)
                    deleted.add(t["delete"])
            self.assertEqual([t["warm"] for t in ticks], [True] * 3 + [False] * 15)
            self.assertEqual(len(deleted), 4)


if __name__ == "__main__":
    unittest.main()
