#!/usr/bin/env python3
"""Seeded 10x corpus fixture for the graft benchmark's corpus_10x workload.

The benchmark's sf0.1 tables are the engine's deterministic seed-42
workload tables, kept as they are in `data/sf0.1/`. This script derives a
`--docs-scale` K fixture from them: `documents` and `embeddings` grow to K
copies of the sf0.1 corpus, and every other table is a symlink to its
sf0.1 file.

Copy 0 is the sf0.1 corpus itself. Copy k > 0 is the sf0.1 corpus under
a transformation drawn from (seed, k), with ids shifted by k times the
table's size:

  documents   each word of the uniform vocabulary is renamed by a seeded
              permutation of that vocabulary (the near-duplicate marker
              `dup` keeps its name), so document lengths, language and
              source mix, word frequencies and the exact/near-duplicate
              structure of the sf0.1 corpus repeat in every copy;
              `n_chars` is recomputed;
  embeddings  each vector's dimensions are permuted and sign-flipped by a
              seeded signed permutation: norms, labels and the float32
              values themselves are kept.

The same seed always gives byte-identical files.

Usage: gen.py --seed N --out DIR [--docs-scale K]
"""
import argparse
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SF01 = os.path.join(HERE, "data", "sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CORPUS = ("documents", "embeddings")
KEPT_WORDS = {"dup"}


def rng_for(seed: int, table: str, copy: int) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt, copy])


def documents(base: pa.Table, seed: int, scale: int) -> pa.Table:
    d = base.to_pydict()
    n = len(d["doc_id"])
    vocab = sorted({w for t in d["text"] for w in t.split()} - KEPT_WORDS)
    out = {k: [] for k in d}
    for k in range(scale):
        if k == 0:
            texts = d["text"]
        else:
            perm = rng_for(seed, "documents", k).permutation(len(vocab))
            rename = {w: vocab[p] for w, p in zip(vocab, perm)}
            texts = [" ".join(rename.get(w, w) for w in t.split(" ")) for t in d["text"]]
        out["doc_id"] += [k * n + i for i in d["doc_id"]]
        out["text"] += texts
        out["lang"] += d["lang"]
        out["source"] += d["source"]
        out["n_chars"] += [len(t) for t in texts]
    return pa.Table.from_pydict(out, schema=base.schema)


def embeddings(base: pa.Table, seed: int, scale: int) -> pa.Table:
    ids = base.column("vec_id").to_numpy()
    n = len(ids)
    col = base.column("embedding").combine_chunks()
    dim = len(col[0])
    v = col.flatten().to_numpy().reshape(n, dim)
    parts = []
    for k in range(scale):
        if k == 0:
            w = v
        else:
            rng = rng_for(seed, "embeddings", k)
            perm = rng.permutation(dim)
            sign = np.where(rng.random(dim) < 0.5, -1.0, 1.0).astype(v.dtype)
            w = v[:, perm] * sign
        parts.append(pa.table({
            "vec_id": pa.array(k * n + ids, base.schema.field("vec_id").type),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * dim),
                pa.array(w.reshape(-1))).cast(base.schema.field("embedding").type),
            "label": base.column("label")}))
    return pa.concat_tables(parts).cast(base.schema)


def write_fixture(seed: int, out: str, docs_scale: int) -> None:
    """Write the scaled corpus pair to `out` and symlink every other table
    from the sf0.1 tables."""
    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        src = os.path.join(SF01, f"{name}.parquet")
        path = os.path.join(out, f"{name}.parquet")
        if name not in CORPUS:
            os.symlink(os.path.relpath(src, out), path)
            continue
        table = globals()[name](pq.read_table(src), seed, docs_scale)
        tmp = path + ".tmp"
        pq.write_table(table.replace_schema_metadata(None), tmp, compression="snappy")
        os.replace(tmp, path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs-scale", type=int, default=10)
    a = ap.parse_args(argv)
    write_fixture(a.seed, a.out, a.docs_scale)
    return 0


if __name__ == "__main__":
    sys.exit(main())
