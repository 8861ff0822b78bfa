"""Tests for the seeded input generator.

Run from the repository root: python3 -m unittest layerbench/test_gen.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(out_dir):
    """SHA-256 over every generated file, in table order."""
    h = hashlib.sha256()
    for name in gen.TABLES:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sorted_rows(path):
    t = pq.read_table(path).to_pydict()
    return sorted(zip(*t.values()), key=repr)


class GenTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as root:
            a, b, c = (os.path.join(root, x) for x in "abc")
            gen.generate(a, 7)
            gen.generate(b, 7)
            gen.generate(c, 8)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))

    def test_fixture_schemas_row_counts_and_one_file_per_table(self):
        with tempfile.TemporaryDirectory() as out:
            manifest = gen.generate(out, 1)
            self.assertEqual(sorted(os.listdir(out)),
                             sorted(f"{t}.parquet" for t in gen.TABLES))
            for t in gen.TABLES:
                got = pq.ParquetFile(os.path.join(out, f"{t}.parquet"))
                fx = pq.ParquetFile(os.path.join(gen.FIXTURES, f"{t}.parquet"))
                self.assertTrue(got.schema.equals(fx.schema), t)
                self.assertEqual(got.metadata.num_rows, fx.metadata.num_rows, t)
                self.assertEqual(got.metadata.num_row_groups, 1, t)
                self.assertEqual(manifest["tables"][t]["rows"], fx.metadata.num_rows)

    def test_only_order_changes_outside_documents(self):
        with tempfile.TemporaryDirectory() as out:
            gen.generate(out, 5)
            for t in ("orders", "events", "embeddings"):
                self.assertEqual(
                    sorted_rows(os.path.join(out, f"{t}.parquet")),
                    sorted_rows(os.path.join(gen.FIXTURES, f"{t}.parquet")), t)

    def test_near_duplicates_move_with_the_seed(self):
        with tempfile.TemporaryDirectory() as root:
            gen.generate(os.path.join(root, "a"), 3)
            gen.generate(os.path.join(root, "c"), 4)
            fx = pq.read_table(os.path.join(gen.FIXTURES, "documents.parquet")).to_pydict()
            base = dict(zip(fx["doc_id"], fx["text"]))
            edited = []
            for sub in "ac":
                d = pq.read_table(os.path.join(root, sub, "documents.parquet")).to_pydict()
                self.assertEqual(d["n_chars"], [len(s) for s in d["text"]])
                edited.append({i for i, s in zip(d["doc_id"], d["text"]) if s != base[i]})
            share = gen.NEAR_DUP_SHARE * len(base)
            for e in edited:
                self.assertGreater(len(e), 0.8 * share)
                self.assertLessEqual(len(e), share)
            self.assertNotEqual(edited[0], edited[1])


if __name__ == "__main__":
    unittest.main()
