#!/usr/bin/env python
"""Synthesize scaled documents/embeddings tables for the dedup/ANN rehearsal.

The driver's testdata stops at sf0.1 (5,000 docs / 2,000 embeddings —
TESTDATA.md), so the LLM-pipeline operator family had no measured scale
point.  This emits the same shapes at rehearsal scale, deterministically
(splitmix-style integer hashing — no RNG, no timestamps, reproducible
bit-for-bit like scripts/gen_sf1.py):

- ``documents.parquet`` — default 500,000 docs (100x the benched sf0.1).
  Same shape as the seed: whitespace bag-of-words text of 8-100 tokens,
  lang 80% en + zh/fr/es, source src0..src19.  The vocabulary GROWS with
  the corpus (30 base stems x 100 suffixes = 3,000 words) — the
  constant-density regime real corpora follow (fixed-vocab scaling would
  densify shingle/bucket collisions quadratically, the same caveat the
  road rehearsal documents for its packed world).  Dup structure is
  injected at seed-like rates: 1/625 docs is an EXACT copy of its
  predecessor (seed: 8/5000), and 2/250 are NEAR-dups of their block
  leader with 3 token substitutions (MinHash/LSH verify work).
- ``embeddings.parquet`` — default 20,000 vectors (10x sf0.1), 64-dim
  unit-norm float32 in 10 label clusters (center*0.8 + noise, matching
  the seed's near-orthogonal cluster shape); normals via hash-fed
  Box-Muller.

Usage: python scripts/gen_sf1_docs.py [/tmp/sf1] [n_docs] [n_vecs]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from splitmix import mix

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
n_vecs = int(sys.argv[3]) if len(sys.argv) > 3 else 20_000
os.makedirs(out, exist_ok=True)

STEMS = ("spark line column order small sort fast value scan stream filter "
         "batch part query agg table hash join merge group row key big slow "
         "vector customer the a shuffle cache").split()
VOCAB = np.array([f"{s}{k}" for s in STEMS for k in range(100)])

# ---- documents -------------------------------------------------------------
i = np.arange(n_docs, dtype=np.uint64)
n_tok = (8 + mix(i, np.uint64(1)) % np.uint64(93)).astype(np.int64)
starts = np.concatenate(([0], np.cumsum(n_tok)))
total = int(starts[-1])
doc_of = np.repeat(i, n_tok)
pos = (np.arange(total, dtype=np.uint64)
       - np.repeat(starts[:-1].astype(np.uint64), n_tok))
words = VOCAB[mix(doc_of, pos + np.uint64(2)) % np.uint64(len(VOCAB))]

texts = [" ".join(words[starts[k]:starts[k + 1]]) for k in range(n_docs)]
# near-dups: block leader is doc (i - i%250); members i%250 in {248,249}
# take the leader's tokens with 3 deterministic substitutions
for k in range(n_docs):
    r = k % 250
    if r in (248, 249) and k - r >= 0:
        lead = k - r
        tk = words[starts[lead]:starts[lead + 1]].copy()
        for j in range(3):
            p = int(mix(np.uint64(k), np.uint64(100 + j)) % np.uint64(len(tk)))
            w = int(mix(np.uint64(k), np.uint64(200 + j)) % np.uint64(len(VOCAB)))
            tk[p] = VOCAB[w]
        texts[k] = " ".join(tk)
# exact dups: every 625th doc copies its predecessor (after near-dup pass,
# so the copy is byte-identical to whatever its predecessor carries)
for k in range(624, n_docs, 625):
    texts[k] = texts[k - 1]

LANGS = np.array(["en", "en", "en", "en", "en", "en", "en", "en", "zh",
                  "fr", "es", "en", "en", "en", "en", "en"])
lang = LANGS[(mix(i, np.uint64(3)) % np.uint64(len(LANGS))).astype(np.int64)]
source = np.array([f"src{int(x)}" for x in (i % np.uint64(20))])
n_chars = np.array([len(t) for t in texts], dtype=np.int64)

pq.write_table(pa.table({
    "doc_id": pa.array(i.astype(np.int64)),
    "text": pa.array(texts),
    "lang": pa.array(lang),
    "source": pa.array(source),
    "n_chars": pa.array(n_chars),
}), f"{out}/documents.parquet", row_group_size=16384)
# 16k-row groups: a single-row-group file pins the whole scan to one task
# (parquet row groups are the split unit — the repo's file-count gotcha)

# ---- embeddings ------------------------------------------------------------
DIM, K = 64, 10


def normals(row: np.ndarray, col0: int, shape) -> np.ndarray:
    """Hash-fed Box-Muller standard normals, shape (len(row), shape)."""
    cols = np.arange(col0, col0 + 2 * shape, dtype=np.uint64)
    u = mix(row[:, None], cols[None, :]).astype(np.float64) / 2.0**64
    u = np.clip(u, 1e-12, 1 - 1e-12)
    u1, u2 = u[:, :shape], u[:, shape:]
    return np.sqrt(-2 * np.log(u1)) * np.cos(2 * np.pi * u2)


cent = normals(np.arange(1_000_000, 1_000_000 + K, dtype=np.uint64), 0, DIM)
cent /= np.linalg.norm(cent, axis=1, keepdims=True)
v = np.arange(n_vecs, dtype=np.uint64)
label = (mix(v, np.uint64(7)) % np.uint64(K)).astype(np.int32)
emb = 0.8 * cent[label] + normals(v, 1000, DIM)
emb /= np.linalg.norm(emb, axis=1, keepdims=True)
emb = emb.astype(np.float32)

pq.write_table(pa.table({
    "vec_id": pa.array(v.astype(np.int64)),
    "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
    "label": pa.array(label),
}), f"{out}/embeddings.parquet", row_group_size=2048)

print(f"wrote {out}/documents.parquet ({n_docs} docs, "
      f"avg {n_chars.mean():.0f} chars) and "
      f"{out}/embeddings.parquet ({n_vecs} x {DIM})")
