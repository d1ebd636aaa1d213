"""Seeded curation corpus: ``documents`` and ``embeddings`` parquet tables
in the column layout the operator registry reads.

Documents are bags of words from a small vocabulary, with planted
near-duplicates (a copy of an earlier document with a few words replaced)
so MinHash/LSH finds pairs and connected components finds clusters.
Embeddings are noisy points around a few seeded centres, one label per
centre.  Sizes and shape do not depend on the seed; contents do.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "stream filter order group vector dup quantum"
).split()
DIM = 64
LABELS = 10


def write(out_dir: str, seed: int, docs: int, vectors: int) -> dict[str, int]:
    """Write <out_dir>/documents.parquet and embeddings.parquet; returns
    their sizes in bytes."""
    rng = np.random.default_rng([seed, 11])
    os.makedirs(out_dir, exist_ok=True)
    # the shape is fixed (every fifth document edits an earlier one, lengths
    # cycle through 8..89 words) so every seed asks for the same work; the
    # seed picks the words, the edits and which document is copied
    texts: list[str] = []
    for i in range(docs):
        if i % 5 == 4:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 25)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), size=8 + (i * 37) % 82)]
        texts.append(" ".join(words))
    doc_tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": texts,
            "lang": [("en", "de", "fr", "es", "zh")[i % 5] for i in range(docs)],
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centres = rng.normal(0.0, 1.0, size=(LABELS, DIM))
    labels = np.arange(vectors) % LABELS
    vecs = (centres[labels] + rng.normal(0.0, 0.3, size=(vectors, DIM))).astype(np.float32)
    emb_tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    sizes = {}
    for name, tbl in (("documents", doc_tbl), ("embeddings", emb_tbl)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = os.path.getsize(path)
    return sizes
