#!/usr/bin/env python3
"""Seeded input generator for the layered benchmark.

Derives the ten tables the engine's queries read (`region nation customer
supplier part orders lineitem events documents embeddings`) from the
engine's own test fixtures at scale factor 0.01, which are kept in
`fixtures/sf0.01/` (a byte-for-byte copy of the deterministic seed-42
tables described in TESTDATA.md and FIXTURES.md). Every output table has its
fixture's schema and row count and is one parquet file.

The run's `--seed` changes two things: the row order of every table, and
which documents are overwritten with a near-duplicate edit of another
document (a fixed share of the corpus). One seed always gives byte-identical
files; two seeds give different files.

Usage: python3 gen.py OUT_DIR --seed N
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
NEAR_DUP_SHARE = 0.10


def plant_near_dups(docs, rng):
    """Overwrite a fixed share of documents with a copy of another document
    in which one to three words are replaced by words of the corpus. The seed
    picks the targets, sources and edits; `n_chars` follows the new text."""
    texts = docs.column("text").to_pylist()
    vocab = sorted({w for t in texts for w in t.split(" ")})
    n = len(texts)
    for tgt in rng.choice(n, int(round(n * NEAR_DUP_SHARE)), replace=False):
        src = int(rng.integers(0, n - 1))
        src += src >= tgt  # any document but the target
        words = texts[src].split(" ")
        for _ in range(int(rng.integers(1, 4))):
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts[tgt] = " ".join(words)
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(texts, pa.string()))
    return docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pa.array([len(s) for s in texts], pa.int64()))


def generate(out_dir, seed, fixtures=FIXTURES):
    """Write every table for `seed` under out_dir; return a manifest with
    rows and bytes per table."""
    rng = np.random.default_rng([42, seed])
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "fixtures": os.path.basename(fixtures), "tables": {}}
    for name in TABLES:
        tbl = pq.read_table(os.path.join(fixtures, f"{name}.parquet"))
        if name == "documents":
            tbl = plant_near_dups(tbl, rng)
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        manifest["tables"][name] = {"rows": tbl.num_rows,
                                    "bytes": os.path.getsize(path)}
    manifest["rows"] = sum(v["rows"] for v in manifest["tables"].values())
    manifest["bytes"] = sum(v["bytes"] for v in manifest["tables"].values())
    return manifest


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args(argv)
    print(json.dumps(generate(a.out_dir, a.seed)))


if __name__ == "__main__":
    main(sys.argv[1:])
