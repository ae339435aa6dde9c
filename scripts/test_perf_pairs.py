"""Unit tests of the pair verdict in perf_pairs.py.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perf_pairs import groups, quartiles, verdict  # noqa: E402


def pairs(parent, change):
    return list(zip(parent, change))


class VerdictTest(unittest.TestCase):
    PARENT = [0.27, 0.26, 0.30, 0.28, 0.25, 0.27, 0.29, 0.26, 0.28, 0.27]

    def test_clear_gain_holds(self):
        change = [0.20, 0.19, 0.21, 0.20, 0.19, 0.20, 0.22, 0.19, 0.20, 0.21]
        v = verdict(pairs(self.PARENT, change), "lower", 0.25, claimed=True)
        self.assertEqual(v["wins"], 10)
        self.assertTrue(v["ok"])

    def test_eight_of_ten_wins_is_not_a_gain(self):
        change = [0.20] * 8 + [0.30, 0.31]
        v = verdict(pairs(self.PARENT, change), "lower", 0.25, claimed=True)
        self.assertEqual(v["wins"], 8)
        self.assertFalse(v["ok"])

    def test_ties_count_for_neither_side(self):
        change = [p - 0.05 for p in self.PARENT[:9]] + [self.PARENT[9]]
        v = verdict(pairs(self.PARENT, change), "lower", 0.25, claimed=True)
        self.assertEqual(v["wins"], 9)
        self.assertTrue(v["ok"])

    def test_gap_inside_the_parent_spread_is_not_a_gain(self):
        # wins every pair, but by less than the parent's IQR
        change = [p - 0.005 for p in self.PARENT]
        q1, _, q3 = quartiles(self.PARENT)
        v = verdict(pairs(self.PARENT, change), "lower", 0.25, claimed=True)
        self.assertEqual(v["wins"], 10)
        self.assertLess(v["gap"], q3 - q1)
        self.assertFalse(v["ok"])

    def test_higher_is_better_direction(self):
        parent = [1.4, 1.5, 1.5, 1.45, 1.5, 1.42, 1.48, 1.5, 1.46, 1.44]
        up = [x + 0.3 for x in parent]
        self.assertTrue(verdict(pairs(parent, up), "higher", 0.25, claimed=True)["ok"])
        self.assertFalse(verdict(pairs(up, parent), "higher", 0.25, claimed=True)["ok"])

    def test_unclaimed_metric_is_held_to_its_bound(self):
        parent = [20.0] * 5
        self.assertTrue(verdict(pairs(parent, [24.0] * 5), "lower", 0.25, claimed=False)["ok"])
        self.assertFalse(verdict(pairs(parent, [26.0] * 5), "lower", 0.25, claimed=False)["ok"])
        self.assertTrue(verdict(pairs(parent, [12.0] * 5), "lower", 0.25, claimed=False)["ok"])
        self.assertFalse(verdict(pairs([2.0] * 5, [1.4] * 5), "higher", 0.25, claimed=False)["ok"])

    def test_quartiles(self):
        self.assertEqual(quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(quartiles([7.0]), (7.0, 7.0, 7.0))


class GroupsTest(unittest.TestCase):
    @staticmethod
    def run_(workload, seed, pair, side):
        return {"workload": workload, "seed": seed, "pair": pair, "side": side,
                "result": {"tag": f"{workload}-{seed}-{pair}-{side}"}}

    def test_pairs_are_judged_per_workload_and_seed(self):
        runs = [self.run_(w, seed, i, side) for w, seed in (("ingest", 7), ("batch", 7), ("ingest", 5))
                for i in range(2) for side in ("parent", "change")]
        g = groups(runs)
        self.assertEqual(list(g), [("batch", 7), ("ingest", 5), ("ingest", 7)])
        for (w, seed), full in g.items():
            self.assertEqual(len(full), 2)
            self.assertEqual({p["parent"]["tag"].rsplit("-", 2)[0] for p in full}, {f"{w}-{seed}"})

    def test_an_incomplete_pair_is_left_out(self):
        runs = [self.run_("ingest", 7, 0, "parent"), self.run_("ingest", 7, 0, "change"),
                self.run_("ingest", 7, 1, "change"), self.run_("batch", 7, 0, "parent")]
        self.assertEqual({k: len(v) for k, v in groups(runs).items()}, {("ingest", 7): 1})


if __name__ == "__main__":
    unittest.main()
