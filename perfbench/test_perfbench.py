"""Self-tests of the benchmark's own code: the percentile rule, the error
rate arithmetic, span self time, and the adhoc generator's determinism.

Run from the repository root:  python3 -m unittest perfbench/test_perfbench.py
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import adhoc  # noqa: E402
import stats  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.001")


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.min_samples(0.75), 40)
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.5), 20)
        with self.assertRaises(ValueError):
            stats.percentile(range(39), 0.75)

    def test_nearest_rank(self):
        xs = list(range(1, 41))  # 1..40
        self.assertEqual(stats.percentile(xs, 0.75), 30)
        self.assertEqual(stats.percentile(xs, 0.5), 20)
        self.assertEqual(stats.percentile(reversed(xs), 0.5), 20)

    def test_exactly_ten_beyond(self):
        xs = list(range(100))
        p90 = stats.percentile(xs, 0.9)
        self.assertEqual(sum(x > p90 for x in xs), 10)


class ErrorRate(unittest.TestCase):
    def test_failures_and_wrong_answers_over_attempts(self):
        self.assertEqual(stats.error_rate(0, 0, 50), 0.0)
        self.assertAlmostEqual(stats.error_rate(1, 2, 60), 0.05)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0, 0)


class SelfTime(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [
            {"id": 1, "parent": 0, "name": "request", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "build", "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "name": "exec", "start_ms": 30, "end_ms": 60},
            {"id": 4, "parent": 2, "name": "memo", "start_ms": 15, "end_ms": 25},
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["request"], 50)  # 100 - [10, 60)
        self.assertAlmostEqual(got["build"], 20)
        self.assertAlmostEqual(got["memo"], 10)
        self.assertAlmostEqual(got["exec"], 30)


class AdhocGenerator(unittest.TestCase):
    def test_same_seed_same_queries(self):
        self.assertEqual(adhoc.generate(7, DATA), adhoc.generate(7, DATA))

    def test_seed_changes_queries(self):
        self.assertNotEqual([q[1] for q in adhoc.generate(7, DATA)],
                            [q[1] for q in adhoc.generate(8, DATA)])

    def test_queries_follow_the_join_trees(self):
        for (qid, sql, n), tables in zip(adhoc.generate(3, DATA), adhoc.JOIN_TREES):
            self.assertTrue(sql.startswith(f"SELECT COUNT(*) FROM {', '.join(tables)} WHERE "))
            # one FK equality per joined table, then 1-3 predicates
            conds = sql.split(" WHERE ")[1].count(" AND ") + 1 - sql.count(" BETWEEN ")
            self.assertGreaterEqual(conds, len(tables))
            self.assertLessEqual(conds, len(tables) + 2)
            self.assertGreaterEqual(n, 0)


if __name__ == "__main__":
    unittest.main()
