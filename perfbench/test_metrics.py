"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(M.percentile(xs, 100), 100)
        self.assertEqual(M.percentile([7], 80), 7)
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)

    def test_sample_count_rule(self):
        # at least ten samples must lie beyond the reported percentile
        self.assertEqual(M.min_samples(90), 100)
        self.assertEqual(M.min_samples(80), 50)
        self.assertEqual(M.min_samples(75), 40)
        self.assertEqual(M.min_samples(50), 20)
        self.assertEqual(M.beyond(100, 90), 10)
        self.assertEqual(M.beyond(99, 90), 9)
        self.assertEqual(M.beyond(50, 80), 10)
        self.assertEqual(M.beyond(49, 80), 9)
        n = M.min_samples(80)
        xs = list(range(n))
        self.assertEqual(sum(1 for x in xs if x > M.percentile(xs, 80)), 10)

    def test_empty(self):
        with self.assertRaises(ValueError):
            M.percentile([], 50)


class IntervalTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(M.union_length([]), 0)
        self.assertEqual(M.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(M.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(M.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(M.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(M.union_length([(5, 15), (0, 10)], 2, 12), 10)

    def test_driver_ms(self):
        jobs = [{"start_ms": 10, "end_ms": 30}, {"start_ms": 20, "end_ms": 40},
                {"start_ms": 60, "end_ms": 70},
                # overlaps the pass end: only the part inside counts
                {"start_ms": 95, "end_ms": 120}]
        # wall 100, job-active 30 + 10 + 5 = 45
        self.assertEqual(M.driver_ms(0, 100, jobs), 55)
        self.assertEqual(M.driver_ms(0, 100, []), 100)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, s, e):
        return {"id": i, "parent": parent, "start_ms": s, "end_ms": e}

    def test_nested(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 60),
                 self.span(3, 2, 20, 30), self.span(4, 2, 40, 45)]
        st = M.self_times(spans)
        self.assertEqual(st[1], 50)  # only the direct child counts
        self.assertEqual(st[2], 35)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[4], 5)
        # self times of a tree add up to the root's duration
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50),
                 self.span(3, 1, 40, 70), self.span(4, 1, 90, 130)]
        st = M.self_times(spans)
        # children cover 10..70 and 90..100 (clipped to the parent)
        self.assertEqual(st[1], 30)


class VerdictTest(unittest.TestCase):
    parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_improved(self):
        change = [x * 0.9 for x in self.parent]
        v, d = M.verdict(self.parent, change, 0.1)
        self.assertEqual(v, "improved")
        self.assertEqual(d["wins"], 10)

    def test_unchanged_when_wins_fall_short(self):
        # 8 of 10 pairs won: not enough for a gain
        change = [x * 0.9 for x in self.parent[:8]] + self.parent[8:]
        change[8] += 1
        change[9] += 1
        v, d = M.verdict(self.parent, change, 0.1)
        self.assertEqual(d["wins"], 8)
        self.assertEqual(v, "unchanged")

    def test_unchanged_when_gap_within_parent_iqr(self):
        # wins every pair, but by less than the parent's quartile distance
        change = [x - 0.5 for x in self.parent]
        v, d = M.verdict(self.parent, change, 0.1)
        self.assertEqual(d["wins"], 10)
        self.assertEqual(v, "unchanged")

    def test_worse_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(M.verdict(self.parent, change, 0.1)[0], "worse")
        # within the bound it is not worse
        change = [x * 1.05 for x in self.parent]
        self.assertEqual(M.verdict(self.parent, change, 0.1)[0], "unchanged")

    def test_unresolved_when_spread_exceeds_bound(self):
        noisy = [50, 150, 80, 120, 100, 60, 140, 90, 110, 100]
        self.assertEqual(M.verdict(noisy, noisy, 0.1)[0], "unresolved")
        # unless every change run beats every parent run
        better = [x / 10 for x in noisy]
        self.assertEqual(M.verdict(noisy, better, 0.1)[0], "improved")

    def test_higher_is_better(self):
        change = [x * 1.1 for x in self.parent]
        self.assertEqual(M.verdict(self.parent, change, 0.05, "higher")[0], "improved")

    def test_pairing_by_seed(self):
        p = {1: "p1", 2: "p2", 3: "p3"}
        c = {3: "c3", 1: "c1", 9: "c9"}
        self.assertEqual(compare.paired(p, c), (["p1", "p3"], ["c1", "c3"]))


class LayerTest(unittest.TestCase):
    def test_prefixes(self):
        cases = {"q_l_rf_params": "ml", "q_m1_standard_scale": "ml",
                 "q_mm_features": "multimodal", "q_t3_auroc": "stats",
                 "q_e_soft_vote": "ensemble", "q_x_bm25": "text",
                 "q_v_knn_brute": "sim", "q_a1_tpch_q1": "ops",
                 "q_j_anti": "ops", "q_p4_filter": "ops",
                 "q_p_ep1_chain": "pipelines", "q_pipe_ep2": "pipelines",
                 "io:q_l_rf_params": "io"}
        for op, layer in cases.items():
            self.assertEqual(M.layer_of(op), layer, op)
        with self.assertRaises(ValueError):
            M.layer_of("bogus")


class GeneratorTest(unittest.TestCase):
    def test_seed_determinism(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen.generate(a, 7)
            gen.generate(b, 7)
            gen.generate(c, 8)
            self.assertEqual(gen.digest(a), gen.digest(b))
            self.assertNotEqual(gen.digest(a), gen.digest(c))

    def test_lineitems_follow_their_orders(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, 7)
            orphans = duckdb.sql(
                f"SELECT count(*) FROM '{d}/lineitem.parquet' "
                f"WHERE l_orderkey NOT IN "
                f"(SELECT o_orderkey FROM '{d}/orders.parquet')").fetchone()[0]
            self.assertEqual(orphans, 0)


if __name__ == "__main__":
    unittest.main()
