"""Self-tests for the benchmark's own code (no JVM, no Spark).

Run: python3 perfbench/test_perfbench.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.beyond(99, 0.9), 9)
        self.assertEqual(stats.beyond(1000, 0.99), 10)
        self.assertTrue(stats.resolvable(100, 0.9))
        self.assertFalse(stats.resolvable(99, 0.9))
        self.assertFalse(stats.resolvable(34, 0.9))
        self.assertTrue(stats.resolvable(20, 0.5))

    def test_quartiles_match_statistics(self):
        q1, med, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, med, q3), (2.75, 5.5, 8.25))


def span(i, parent, a, b):
    return {"id": i, "parent": parent, "start_ns": a, "end_ns": b}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 40),
                 span(4, 1, 50, 60)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 30 - 10)

    def test_grandchildren_count_only_for_their_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 2, 20, 30)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 60)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 10)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(5, 0, 7, 19)])[5], 12)


class SeedDeterminism(unittest.TestCase):
    def ops(self, w, seed):
        return workloads.make_ops(w, seed, "data", "out", 6)

    def test_same_seed_same_sequence(self):
        for w in ("cypher_repeat", "cypher_adhoc", "pipeline_batch"):
            self.assertEqual(self.ops(w, 7), self.ops(w, 7), w)

    def test_other_seed_other_sequence(self):
        for w in ("cypher_repeat", "cypher_adhoc", "pipeline_batch"):
            self.assertNotEqual(self.ops(w, 7), self.ops(w, 8), w)

    def test_repeat_reuses_texts_and_adhoc_does_not(self):
        rep = self.ops("cypher_repeat", 1)
        keys = {(o["text"], str(o["params"])) for o in rep}
        self.assertEqual(len(keys), len(workloads.REPEAT_GATES))
        self.assertLessEqual(len(keys), 64)  # GraftSession's plan cache size
        adhoc = workloads.make_ops("cypher_adhoc", 1, "data", "out", 12)
        keys = {(o["text"], str(sorted(o["params"].items()))) for o in adhoc}
        self.assertGreater(len(keys), 64)

    def test_every_pass_runs_every_stage_in_order(self):
        ops = self.ops("pipeline_batch", 3)
        first = [o["shape"] for o in ops if o["pass"] == 0]
        self.assertEqual(first, workloads.TEXT_STAGES + workloads.EMB_STAGES)
        for a, b in zip(ops, ops[1:]):
            if a["pass"] == b["pass"] and b["shape"] in workloads.TEXT_STAGES[1:]:
                self.assertEqual(b["input"], a["output"])

    def test_data_is_fixed(self):
        a = datagen.tables(0.001)
        b = datagen.tables(0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)


class Verdict(unittest.TestCase):
    parent = [1.00, 1.02, 0.99, 1.01, 1.00, 0.98, 1.03, 1.00, 1.01, 0.99]

    def test_improved(self):
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1),
                         ("improved", 1.0))

    def test_worse(self):
        change = [x * 1.3 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1)[0],
                         "worse")

    def test_unchanged(self):
        change = list(reversed(self.parent))
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1)[0],
                         "unchanged")

    def test_unresolved_when_spread_exceeds_bound(self):
        parent = [1.0, 2.0, 1.0, 2.0, 1.5, 1.0, 2.0, 1.0, 2.0, 1.5]
        change = [1.9, 1.1, 1.9, 1.1, 1.5, 1.9, 1.1, 1.9, 1.1, 1.4]
        self.assertEqual(stats.verdict(parent, change, "lower", 0.1)[0],
                         "unresolved")

    def test_higher_is_better(self):
        change = [x * 1.3 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "higher", 0.1)[0],
                         "improved")


class Canonical(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = oracle.canonical(["b", "a"], [[1, "x"], [2, "y"]])
        b = oracle.canonical(["a", "b"], [("y", 2), ("x", 1.0)])
        self.assertEqual(a, b)

    def test_values_still_differ(self):
        a = oracle.canonical(["a"], [[1.0], [2.0]])
        b = oracle.canonical(["a"], [[1.0], [2.5]])
        self.assertNotEqual(a, b)


if __name__ == "__main__":
    unittest.main()
