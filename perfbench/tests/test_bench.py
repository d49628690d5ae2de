"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([7], 90), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_tail_keeps_p90_with_enough_samples(self):
        self.assertEqual(stats.tail_rank(100), 90)
        self.assertEqual(stats.tail_rank(1000), 90)

    def test_tail_falls_back_to_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_rank(50), 80)
        self.assertEqual(stats.tail_rank(40), 75)
        for n in (25, 40, 50, 99):
            p = stats.tail_rank(n)
            self.assertGreaterEqual(n * (1 - p / 100), 10 - 1e-9)
            self.assertLess(n * (1 - (p + 1) / 100), 10)

    def test_tail_never_below_median(self):
        self.assertEqual(stats.tail_rank(8), 50)
        self.assertEqual(stats.tail_rank(1), 50)
        self.assertEqual(stats.tail_rank(0), 50)


def span(i, parent, start, end, name="operators.X.y", **counters):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name,
            "counters": counters}


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 1, 3, 6), span(4, 2, 1, 2)]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 10 - 5)   # children cover [1, 6)
        self.assertEqual(own[2], 3 - 1)
        self.assertEqual(own[3], 3)
        self.assertEqual(own[4], 1)

    def test_sequential_spans_own_every_instant_once(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 1, 4, 6), span(4, 3, 4, 5)]
        self.assertEqual(sum(stats.self_times(spans).values()), 10)

    def test_children_are_clipped_to_the_parent(self):
        own = stats.self_times([span(1, 0, 0, 10), span(2, 1, 8, 14)])
        self.assertEqual(own[1], 8)

    def test_rollup_sums_the_subtree(self):
        spans = [span(1, 0, 0, 10, jobs=1), span(2, 1, 1, 2, jobs=2),
                 span(3, 2, 1, 2, jobs=4), span(4, 0, 11, 12, jobs=8)]
        self.assertEqual(stats.rollup(spans, 1, "jobs"), 7)
        self.assertEqual(stats.rollup(spans, 4, "jobs"), 8)

    def test_layer_is_the_first_name_segment(self):
        self.assertEqual(stats.layer_of("functions.Staged.build"), "functions")

    def test_staged_builds_nest_under_the_innermost_span(self):
        sub = [span(1, 0, 0, 100, "bench.pass"), span(2, 1, 10, 60, "operators.Quality.report")]
        p = {"idx": 0, "span": 1, "staged": {"outer": 0.03, "inner": 0.01, "late": 0.005}}
        ends = {"outer": 50, "inner": 45, "late": 99}
        built = {s["start"]: s for s in layers.staged_spans(p, sub, ends)}
        self.assertEqual(sorted(built), [20, 35, 94])
        self.assertEqual(built[20]["parent"], 2)               # inside Quality.report
        self.assertEqual(built[35]["parent"], built[20]["id"])  # inside the outer build
        self.assertEqual(built[94]["parent"], 1)
        own = stats.self_times(sub + list(built.values()))
        self.assertEqual(own[2], 50 - 30)
        self.assertEqual(own[built[20]["id"]], 30 - 10)


def tiny_base(d):
    """A two-table gold base plus copied dimension tables, written to ``d``."""
    pq.write_table(pa.table({"o_orderkey": pa.array([1, 2, 3], pa.int64()),
                             "o_custkey": pa.array([10, 11, 12], pa.int64())}),
                   f"{d}/orders.parquet")
    pq.write_table(pa.table({"l_orderkey": pa.array([1, 1, 2, 3, 3], pa.int64()),
                             "l_linenumber": pa.array([1, 2, 1, 1, 2], pa.int32())}),
                   f"{d}/lineitem.parquet")
    for t in ("customer", "supplier", "nation", "region"):
        pq.write_table(pa.table({"k": [1, 2]}), f"{d}/{t}.parquet")


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.base = f"{self.tmp.name}/base"
        os.makedirs(self.base)
        tiny_base(self.base)

    def tearDown(self):
        self.tmp.cleanup()

    def gold(self, seed, name):
        out = f"{self.tmp.name}/{name}"
        gen.gold_input(self.base, out, seed, 3)
        return out

    def test_same_seed_gives_identical_gold_inputs(self):
        self.assertEqual(gen.dir_digest(self.gold(5, "a")), gen.dir_digest(self.gold(5, "b")))

    def test_different_seed_gives_different_gold_inputs(self):
        self.assertNotEqual(gen.dir_digest(self.gold(5, "a")), gen.dir_digest(self.gold(6, "b")))

    def test_replication_keeps_every_join_and_scales_rows(self):
        out = self.gold(9, "a")
        li = pq.read_table(f"{out}/lineitem.parquet").to_pydict()
        orders = pq.read_table(f"{out}/orders.parquet").to_pydict()
        self.assertEqual(len(li["l_orderkey"]), 15)
        self.assertEqual(len(orders["o_orderkey"]), 9)
        self.assertEqual(len(set(orders["o_orderkey"])), 9)
        self.assertTrue(set(li["l_orderkey"]) <= set(orders["o_orderkey"]))

    def test_query_sequence_runs_whole_blocks(self):
        names = list("abcdefgh")
        seq = gen.query_sequence(names, 3, 4)
        self.assertEqual(seq, gen.query_sequence(names, 3, 4))
        self.assertNotEqual(seq, gen.query_sequence(names, 4, 4))
        for b in range(4):
            self.assertEqual(sorted(seq[b * 8:(b + 1) * 8]), names)


if __name__ == "__main__":
    unittest.main()
