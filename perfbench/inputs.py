"""Seeded input generators. The same seed gives the same inputs; the
program only ever sees the generated files.

Everything here is plain Python / numpy / pyarrow, so generating inputs
runs no Spark job and cannot disturb the job counts of the session.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

TREE_G = "graph://tree"
# parent(k) is drawn from [k//2 - PARENT_BAND, k//2]: a random recursive
# tree whose depth stays ~log2 N, like the reference's own benchmark tree
PARENT_BAND = 2

# the vocabulary and length range of the sf0.1 documents table
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_MIN_WORDS, DOC_MAX_WORDS = 10, 100


def tree_parents(n: int, seed: int) -> np.ndarray:
    """parent[k] for k in 1..n-1 (parent[0] = -1): always < k."""
    rng = np.random.default_rng([seed, 1])
    k = np.arange(n)
    half = k // 2
    parent = half - rng.integers(0, PARENT_BAND + 1, size=n)
    parent = np.clip(parent, 0, None)
    parent[0] = -1
    return parent


def tree_depths(parent: np.ndarray) -> np.ndarray:
    """depth[k] = number of ancestors of k, in one ascending pass."""
    depth = np.zeros(len(parent), dtype=np.int64)
    for k in range(1, len(parent)):
        depth[k] = depth[parent[k]] + 1
    return depth


def node(k) -> str:
    return f"node:{k}"


def edge_table(ids: np.ndarray, parent: np.ndarray, pred: str = "parent") -> pa.Table:
    return pa.table(
        {
            "s": [node(k) for k in ids],
            "p": [pred] * len(ids),
            "o": [node(parent[k]) for k in ids],
            "g": [TREE_G] * len(ids),
        }
    )


def documents(n_docs: int, copy_every: int, seed: int) -> tuple:
    """(table, planted): ``n_docs`` random documents over the sf0.1
    vocabulary plus one near-copy of every ``copy_every``-th document
    (one word replaced). ``planted`` lists the (original, copy) id pairs."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    lens = rng.integers(DOC_MIN_WORDS, DOC_MAX_WORDS + 1, size=n_docs)
    words = [vocab[rng.integers(0, len(VOCAB), size=n)] for n in lens]
    texts = [" ".join(w) for w in words]
    ids = list(range(n_docs))
    planted = []
    for i in range(0, n_docs, copy_every):
        w = words[i].copy()
        pos = int(rng.integers(0, len(w)))
        w[pos] = "dup"
        ids.append(n_docs + i)
        texts.append(" ".join(w))
        planted.append((i, n_docs + i))
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})
    return table, planted

