"""Seeded benchmark inputs.  The same seed gives the same inputs; the
package sees only what these functions return.

Documents and vectors are samples of the two fixture tables under
``data/`` (the sf0.1 scale of the repository's generated test dataset:
5000 single-line documents, 2000 x 64 float32 embeddings).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

DUP_SHARE = 0.2
"""Share of each ingest batch after the first that are near-duplicate
copies of documents from earlier batches."""

EXACT_COPY_SHARE = 0.25
"""Share of those copies left unedited: exact copies are the work line
dedup catches; the rest have 1-2 words replaced, the work MinHash dedup
catches."""

_STREAMS = {"ingest": 1, "graph": 2, "pick": 3}


def rng_for(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[stream]])


def documents() -> pd.DataFrame:
    return pd.read_parquet(os.path.join(DATA_DIR, "documents.parquet"),
                           columns=["doc_id", "text"])


def embeddings() -> pd.DataFrame:
    return pd.read_parquet(os.path.join(DATA_DIR, "embeddings.parquet"),
                           columns=["vec_id", "embedding", "label"])


def _frame(ids, texts) -> pd.DataFrame:
    ids = np.asarray(ids, dtype=np.int64)
    return pd.DataFrame({"doc_id": ids,
                         "source": [f"doc-{i:06d}" for i in ids],
                         "text": list(texts)})


def ingest_batches(seed: int, first: int, size: int, n_batches: int):
    """``n_batches`` document batches: the first holds ``first``
    originals, each later one ``size`` documents of which a share
    ``DUP_SHARE`` are copies of originals from earlier batches.  Ids run
    0, 1, 2, ... in arrival order.  Returns ``(batches, copies)`` with
    ``copies[doc_id] = (source doc_id, words edited)``."""
    rng = rng_for(seed, "ingest")
    src = documents()
    order = rng.permutation(len(src))
    vocab = sorted({w for t in src.text for w in t.split()})
    n_dup = int(round(size * DUP_SHARE))
    need = first + (n_batches - 1) * (size - n_dup)
    if need > len(order):
        raise ValueError(f"{n_batches} batches need {need} source "
                         f"documents; the fixture has {len(order)}")
    texts: list[str] = []
    originals: list[int] = []
    copies: dict[int, tuple[int, int]] = {}
    batches = []
    taken = 0
    for b in range(n_batches):
        start, earlier = len(texts), len(originals)
        n = first if b == 0 else size
        dup_at = set() if b == 0 else set(
            rng.choice(n, n_dup, replace=False).tolist())
        for j in range(n):
            if j in dup_at:
                orig = originals[int(rng.integers(earlier))]
                words = texts[orig].split()
                edits = 0 if rng.random() < EXACT_COPY_SHARE else \
                    int(rng.integers(1, 3))
                for pos in rng.choice(len(words), edits, replace=False):
                    words[pos] = vocab[(vocab.index(words[pos]) + 1
                                        + int(rng.integers(len(vocab) - 1)))
                                       % len(vocab)]
                copies[start + j] = (orig, edits)
                texts.append(" ".join(words))
            else:
                originals.append(start + j)
                texts.append(src.text.iloc[order[taken]])
                taken += 1
        batches.append(_frame(range(start, len(texts)), texts[start:]))
    return batches, copies


def graph_split(seed: int, n_base: int):
    """``(base, queries)``: ``n_base`` rows of the fixture embeddings as
    the corpus to index, the same rows for every seed so that every run
    searches the same graph, and the other rows, in a seeded order, as
    the held-out queries."""
    emb = embeddings()
    in_base = np.zeros(len(emb), dtype=bool)
    in_base[np.random.default_rng(0).choice(len(emb), n_base,
                                            replace=False)] = True
    queries = emb[~in_base].reset_index(drop=True)
    order = rng_for(seed, "graph").permutation(len(queries))
    return (emb[in_base].reset_index(drop=True),
            queries.iloc[order].reset_index(drop=True))
