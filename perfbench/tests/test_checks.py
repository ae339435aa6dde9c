"""The ingest read check has one expected answer per read: the index as of
its op, scored with the statistics as of the last compaction.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import checks  # noqa: E402


class IndexAsOf(unittest.TestCase):
    def setUp(self):
        self.seed = {1: ["a", "b"], 2: ["a"], 9: []}
        self.files = {"f1": {3: ["a", "b", "c", "d"]}, "f2": {4: ["a", "b"], 5: []}}
        self.ops = [{"id": 0, "file": "f1"}, {"id": 1}, {"id": 2, "file": "f2"}, {"id": 3}]

    def states(self, compact_every):
        return [(op["id"], sorted(ix), scoring) for op, ix, scoring in
                checks.index_as_of(self.ops, self.seed, self.files, compact_every)]

    def test_seed_statistics_until_the_first_compaction(self):
        seed = (2, 1.5)  # documents without tokens are not indexed
        self.assertEqual(self.states(compact_every=10), [
            (0, [1, 2, 3], seed), (1, [1, 2, 3], seed),
            (2, [1, 2, 3, 4], seed), (3, [1, 2, 3, 4], seed)])

    def test_compaction_brings_the_statistics_up_to_date(self):
        seed, compacted = (2, 1.5), (4, 2.25)
        self.assertEqual(self.states(compact_every=2), [
            (0, [1, 2, 3], seed), (1, [1, 2, 3], seed),
            (2, [1, 2, 3, 4], compacted), (3, [1, 2, 3, 4], compacted)])


if __name__ == "__main__":
    unittest.main()
