"""Checks of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond(self):
        # 200 samples: rank 190, 10 above it
        xs = list(range(1, 201))
        self.assertEqual(metrics.tail_percentile(xs, 0.95), 190)
        # 199 samples: rank 190, only 9 above it
        self.assertIsNone(metrics.tail_percentile(xs[:199], 0.95))

    def test_p50_of_small_sample(self):
        self.assertEqual(metrics.tail_percentile(list(range(1, 21)), 0.5), 10)
        self.assertIsNone(metrics.tail_percentile(list(range(1, 20)), 0.5))

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 40
        self.assertEqual(metrics.tail_percentile(xs, 0.95),
                         metrics.tail_percentile(sorted(xs), 0.95))

    def test_nearest_rank(self):
        self.assertEqual(metrics.nearest_rank([3, 1, 2], 0.5), 2)
        self.assertEqual(metrics.nearest_rank([3, 1, 2], 1.0), 3)
        self.assertEqual(metrics.nearest_rank([7], 0.95), 7)


class UnionLengthTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(metrics.union_length([(0, 1), (2, 5)]), 4)

    def test_overlap_counts_once(self):
        # two concurrent jobs over [0, 10] and [5, 12] keep the driver busy
        # for 12, not 17
        self.assertEqual(metrics.union_length([(0, 10), (5, 12)]), 12)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 11)]), 11)

    def test_unsorted_and_empty(self):
        self.assertEqual(metrics.union_length([(8, 9), (0, 2), (1, 3)]), 4)
        self.assertEqual(metrics.union_length([]), 0)


class AccountTest(unittest.TestCase):
    EXPECTED = {"pkg_versions": {"pkg-01": "200:abc"}}

    def op(self, i, start, end, ok=True, fp="200:abc", param="pkg-01"):
        return {"id": i, "cls": "pkg_versions", "param": param, "start_s": start,
                "end_s": end, "ok": ok, "fp": fp}

    def test_failures_never_become_fast_samples(self):
        ops = [self.op(0, 0.0, 1.0),
               self.op(1, 0.0, 0.001, ok=False, fp="400:err"),   # non-200 reply
               self.op(2, 0.0, 0.002, fp="200:zzz"),             # wrong result
               self.op(3, 0.0, 0.003, ok=False, fp=None)]        # exception
        attempted, failed, latencies, mismatches = metrics.account(ops, self.EXPECTED)
        self.assertEqual((attempted, failed), (4, 3))
        self.assertEqual(latencies, [1.0])
        self.assertEqual([m["id"] for m in mismatches], [1, 2, 3])

    def test_missing_expectation_fails(self):
        ops = [self.op(0, 0.0, 1.0, param="pkg-02")]
        self.assertEqual(metrics.account(ops, self.EXPECTED)[1], 1)

    def test_all_correct(self):
        ops = [self.op(i, i, i + 0.5) for i in range(3)]
        attempted, failed, latencies, _ = metrics.account(ops, self.EXPECTED)
        self.assertEqual((attempted, failed), (3, 0))
        self.assertEqual(latencies, [0.5, 0.5, 0.5])


class MatchCollectsTest(unittest.TestCase):
    def test_overlapping_requests_take_their_own_collect(self):
        # request 1 spans [0, 100] and request 2 [10, 50]; each collect ends
        # just before its own reply
        reqs = [(1, 0, 100), (2, 10, 50)]
        execs = [(7, 60, 98, 0.038), (8, 20, 48, 0.028)]
        self.assertEqual(metrics.match_collects(reqs, execs), {2: 0.028, 1: 0.038})

    def test_unmatched_request_is_left_out(self):
        self.assertEqual(metrics.match_collects([(1, 0, 10)], [(5, 20, 30, 0.01)]), {})


if __name__ == "__main__":
    unittest.main()
