"""The generator is deterministic: the same seed writes identical inputs
and expectations, another seed writes different ones.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def digest(root):
    """Content hash of every file under root, by relative path."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class Determinism(unittest.TestCase):
    def check(self, workload, key_inputs):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            ea = gen.generate(workload, 11, a)
            eb = gen.generate(workload, 11, b)
            ec = gen.generate(workload, 12, c)
            da, db, dc = digest(a), digest(b), digest(c)
            self.assertEqual(da, db)
            self.assertEqual(ea, eb)
            self.assertEqual(set(da), set(dc))
            changed = {p for p in da if da[p] != dc[p]}
            self.assertLessEqual(set(key_inputs), changed)

    def test_batch(self):
        self.check("batch", ["names.txt", "calls.txt", "suspects.txt", "batch_order.txt",
                             "corpus/documents.parquet"])

    def test_ingest(self):
        self.check("ingest", ["ingest_seed/documents.parquet", "ingest_reads.txt",
                              "landing_pool/land_000.parquet"])

    def test_expectations_match_the_files(self):
        with tempfile.TemporaryDirectory() as t:
            e = gen.generate("batch", 5, t)
            with open(os.path.join(t, "names.txt")) as f:
                words = f.read().split()
            self.assertEqual(len(words), gen.N_NAME_LINES)
            self.assertEqual({w: words.count(w) for w in set(words)}, e["word_count"])
            self.assertTrue(all(len(c) > 10 for c in e["suspects"].values()))


if __name__ == "__main__":
    unittest.main()
