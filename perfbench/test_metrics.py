"""Self-test of the benchmark's own math: the tail-percentile rule, the
union of job intervals behind job.driver_gap_s, span self time, the
typical op latency behind op_p50_s and the collision cap of the stream
gate.

    python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = metrics.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)  # 91..100 are the ten beyond it
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_unsorted_input(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 0, 11]
        v, pct, n = metrics.tail(xs)
        self.assertEqual((v, n), (1, 12))
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 100.0 * 2 / 12)

    def test_eleven_is_the_fewest(self):
        self.assertEqual(metrics.tail(list(range(11)))[0], 0)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 100.0, 0))


class IntervalUnion(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(metrics.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3)]), 3)
        self.assertEqual(metrics.union_length([(1, 3), (0, 2), (2.5, 4)]), 4)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)

    def test_clipped_to_the_op(self):
        # Jobs that start before or run past the op count only inside it.
        self.assertEqual(metrics.union_length([(-5, 1), (9, 20)], 0, 10), 2)
        self.assertEqual(metrics.union_length([(-5, -1), (11, 20)], 0, 10), 0)

    def test_driver_gap(self):
        # An op of 10 ms with concurrent jobs covering [1, 4] and [6, 7]:
        # 4 ms of jobs, 6 ms of driver time.
        op = (0, 10)
        jobs = [(1, 3), (2, 4), (6, 7)]
        gap = (op[1] - op[0]) - metrics.union_length(jobs, *op)
        self.assertEqual(gap, 6)


class TypicalOp(unittest.TestCase):
    def op(self, idx, ms):
        return {"idx": idx, "start": 0.0, "end": ms}

    def test_positions_count_once(self):
        # Position 0 is slow in every pass; positions 1 and 2 are alike.
        ops = [self.op(0, 9), self.op(1, 2), self.op(2, 4), self.op(0, 11), self.op(1, 2), self.op(2, 6)]
        self.assertEqual(metrics.typical_op(ops), 5)  # medians 10, 2, 5

    def test_independent_of_pass_count(self):
        one = [self.op(0, 9), self.op(1, 2), self.op(2, 4)]
        self.assertEqual(metrics.typical_op(one), metrics.typical_op(one * 3))


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end, "op": 0}

    def test_children_are_subtracted_once(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 1, 4), self.span(2, 0, 3, 6),
                 self.span(3, 1, 2, 3)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 10 - 5)  # children cover [1, 6]
        self.assertEqual(st[1], 3 - 1)  # grandchild [2, 3] is its child's, not the root's
        self.assertEqual(st[2], 3)
        self.assertEqual(st[3], 1)

    def test_leaf_and_root_sum(self):
        spans = [self.span(0, -1, 0, 8), self.span(1, 0, 0, 8)]
        st = metrics.self_times(spans)
        self.assertEqual((st[0], st[1]), (0, 8))
        self.assertEqual(sum(st.values()), 8)


class CollisionCap(unittest.TestCase):
    def test_poisson_quantile(self):
        import gate
        self.assertEqual(gate.poisson_cap(0.0), 0)
        # For lam = 1: P(X > 1) = 1 - 2/e = 0.264, P(X > 8) = 1.1e-6 and
        # P(X > 9) = 1.1e-7.
        self.assertEqual(gate.poisson_cap(1.0, tail=0.3), 1)
        self.assertEqual(gate.poisson_cap(1.0), 9)


if __name__ == "__main__":
    unittest.main()
