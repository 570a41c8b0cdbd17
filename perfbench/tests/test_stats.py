"""Specs for the benchmark's pure functions.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""

import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


class TailSpec(unittest.TestCase):
    def test_exactly_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(1, 101))
        pct, value, n = stats.tail(xs)
        self.assertEqual((pct, value, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile_falls_as_samples_get_fewer(self):
        pct, value, n = stats.tail([float(i) for i in range(20)])
        self.assertEqual((pct, value, n), (50.0, 9.0, 20))

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_too_few_samples_raise(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)


class GeomeanSpec(unittest.TestCase):
    def test_known_values(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([2.0, 2.0, 2.0]), 2.0)

    def test_a_gain_on_a_short_op_shows(self):
        before = stats.geomean([0.3, 10.0])
        after = stats.geomean([0.15, 10.0])
        self.assertAlmostEqual(after / before, math.sqrt(0.5))

    def test_non_positive_values_raise(self):
        for bad in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                stats.geomean(bad)


class PermutationSpec(unittest.TestCase):
    def test_pass_orders_are_deterministic_per_seed(self):
        self.assertEqual(stats.pass_orders(7, 22, 5), stats.pass_orders(7, 22, 5))
        self.assertNotEqual(stats.pass_orders(7, 22, 5),
                            stats.pass_orders(8, 22, 5))

    def test_every_pass_runs_every_op_once(self):
        for order in stats.pass_orders(3, 22, 10):
            self.assertEqual(sorted(order), list(range(22)))

    def test_passes_differ_within_a_run(self):
        orders = stats.pass_orders(3, 22, 10)
        self.assertGreater(len({tuple(o) for o in orders}), 1)

    def test_row_permutation_is_deterministic(self):
        a = gen.permutation(5, 1000)
        self.assertEqual(a.tolist(), gen.permutation(5, 1000).tolist())
        self.assertEqual(sorted(a.tolist()), list(range(1000)))
        self.assertNotEqual(a.tolist(), gen.permutation(6, 1000).tolist())


class IntervalSpec(unittest.TestCase):
    def test_union_merges_overlaps_and_ignores_empty(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_clip_cuts_to_window(self):
        self.assertEqual(stats.clip([(-5, 1), (2, 3), (9, 12), (20, 30)], 0, 10),
                         [(0, 1), (2, 3), (9, 10)])

    def test_idle_and_gap_of_a_busy_window(self):
        # 4 slots for 10 ms; two overlapping tasks and one outside
        idle, gap = stats.idle_and_gap((0, 10), [(0, 6), (2, 8), (12, 20)], 4)
        self.assertEqual(idle, 4 * 10 - (6 + 6))
        self.assertEqual(gap, 10 - 8)

    def test_window_without_tasks_is_all_gap(self):
        self.assertEqual(stats.idle_and_gap((3, 5), [], 4), (8, 2))

    def test_full_window_has_no_slack(self):
        tasks = [(0, 10)] * 4
        self.assertEqual(stats.idle_and_gap((0, 10), tasks, 4), (0, 0))


class GeneratorSpec(unittest.TestCase):
    def test_same_seed_same_tables(self):
        names = list(gen.GENERATORS)
        a, b = gen.base_tables(3, names, 0.01), gen.base_tables(3, names, 0.01)
        for name in names:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a = gen.base_tables(3, ["lineitem"], 0.01)
        b = gen.base_tables(4, ["lineitem"], 0.01)
        self.assertFalse(a["lineitem"].equals(b["lineitem"]))

    def test_table_independent_of_the_others_generated(self):
        alone = gen.base_tables(3, ["orders"], 0.01)["orders"]
        among = gen.base_tables(3, gen.TABLES["tpch"], 0.01)["orders"]
        self.assertTrue(alone.equals(among))

    def test_workload_inputs_hold_only_their_tables(self):
        for kind, names in gen.TABLES.items():
            self.assertEqual(sorted(gen.workload_tables(kind, 3)),
                             sorted(names), kind)

    def test_replicas_offset_keys_and_edit_a_share(self):
        docs = gen.base_tables(3, ["documents"], 0.2)["documents"]
        out = gen.edit_replicas(docs, 3, reps=2, edit_share=0.3)
        ids = out.column("doc_id").to_pylist()
        self.assertEqual(len(ids), 2 * docs.num_rows)
        self.assertEqual(len(set(ids)), len(ids))
        texts = out.column("text").to_pylist()
        n = docs.num_rows
        self.assertEqual(texts[:n], docs.column("text").to_pylist())
        edited = sum(1 for a, b in zip(texts[:n], texts[n:]) if a != b)
        self.assertTrue(0.15 * n < edited < 0.35 * n, edited)


if __name__ == "__main__":
    unittest.main()
