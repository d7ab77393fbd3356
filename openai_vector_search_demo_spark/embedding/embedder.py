"""E1 — text → embedding, as an Arrow-batched pandas UDF.

The reference calls Azure OpenAI one page at a time (``chunk_size=1``,
``max_retries=3``, returns None on failure — modules/utilities.py:107-115).
That contract survives here, but the *shape* is Spark-native: a scalar
``pandas_udf`` receives whole Arrow batches, so a remote embedder would issue
one batched API call per ~10k rows instead of one per row — same semantics,
orders-of-magnitude better constant factor (SURVEY.md §4.1).

Two implementations behind one interface:

- ``HashNgramEmbedder`` — deterministic, dependency-free local model used by
  tests/bench (SURVEY.md §5: "pluggable local model" solves oracle
  determinism).  Feature-hash unigram projection with sign hashing, L2
  normalized, float32.  Same algorithm as scikit-learn's HashingVectorizer
  family, reimplemented on md5 for cross-platform determinism.
- ``RemoteEmbedder`` — the production (OpenAI-compatible) shape: batched
  calls through an injectable transport, ``max_retries=3``, None-on-failure
  per sub-batch.  The transport itself is a plain callable so the full
  batching/retry/failure logic is testable offline against a mock; only the
  HTTP client is environment-specific.
"""

from __future__ import annotations

import functools
import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType


class Embedder:
    """E1 contract: texts in, fp32 vectors (or None on failure) out."""

    dim: int

    def embed_batch(self, texts: pd.Series) -> pd.Series:  # pragma: no cover
        raise NotImplementedError


class HashNgramEmbedder(Embedder):
    """Deterministic feature-hash embedder.

    token → first 15 hex of md5 as a 60-bit int h (the engine-wide
    `_hash60` convention — SQL-expressible in both Spark and DuckDB, which
    makes the *whole embedding* oracle-checkable);
    bucket = h mod dim; sign = bit 59 of h; accumulate sign into bucket;
    L2-normalize (float64, exact: ±1 integer sums); cast fp32 (P10).
    Deterministic across processes/partitions — no RNG, no state.
    """

    #: bound on the per-process token-feature memo (natural-language corpora
    #: repeat tokens heavily; 2^20 entries ≈ tens of MB worst case)
    _CACHE_MAX = 1 << 20

    def __init__(self, dim: int = 64):
        self.dim = dim
        self._feat_cache: dict[str, tuple[int, float]] = {}

    _WS = re.compile(r"\s+", re.ASCII)

    def __getstate__(self):
        # the memo is per-process state — shipping it inside the pandas-UDF
        # closure would bloat task serialization for zero benefit (workers
        # rebuild it from their own traffic)
        state = self.__dict__.copy()
        state["_feat_cache"] = {}
        return state

    def _feat(self, tok: str) -> tuple[int, float]:
        """(bucket, sign) of one token — md5 computed once per DISTINCT
        token per process, not once per occurrence (the md5, not the
        arithmetic, dominated embedding cost)."""
        f = self._feat_cache.get(tok)
        if f is None:
            h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
            f = (h % self.dim, 1.0 if (h >> 59) & 1 == 0 else -1.0)
            if len(self._feat_cache) < self._CACHE_MAX:
                self._feat_cache[tok] = f
        return f

    def _vec(self, text: str | None) -> list[float] | None:
        if text is None:
            return None
        v = np.zeros(self.dim, dtype=np.float64)
        # ASCII \s split (not str.split()): Java/RE2 \s is ASCII-only, and the
        # flagship oracle tokenizes with regexp \s+ — Unicode whitespace like
        # U+00A0 must stay inside tokens on both sides.  Counting occurrences
        # then adding sign·count is exact (integer-valued float64 sums).
        counts: dict[str, int] = {}
        for tok in self._WS.split(text.lower()):
            if tok:
                counts[tok] = counts.get(tok, 0) + 1
        for tok, c in counts.items():
            bucket, sign = self._feat(tok)
            v[bucket] += sign * c
        n = float(np.sqrt((v * v).sum()))
        if n == 0:
            # no tokens, or sign-cancelled features: no meaningful direction.
            # Report as embedding failure (E1's None contract) — a zero
            # vector would make cosine NaN, and NaN sorts *above* every
            # similarity in a descending Spark sort.
            return None
        return (v / n).astype(np.float32).astype(np.float64).tolist()

    def embed_batch(self, texts: pd.Series) -> pd.Series:
        return texts.map(self._vec)


class RemoteEmbedder(Embedder):
    """The production embedder shape (Azure/OpenAI API, E1) against an
    injectable transport.

    Reference contract (modules/utilities.py:107-115): ``max_retries=3``,
    None on failure — the failed page is skipped downstream with a log
    (:207-208), not crashed on.  The reference's ``chunk_size=1`` (one HTTPS
    call per page) is the anti-optimization SURVEY §4.1 flags; here each
    Arrow batch is sliced into ``batch_size`` sub-batches, one transport
    call each — identical semantics, ~batch_size× fewer round trips.

    ``transport``: ``list[str] -> list[list[float]]`` — one batched API
    call; raises on transient failure (the retryable unit).  It must be
    picklable (runs inside the pandas UDF worker); a production transport
    wraps an openai/httpx client constructed lazily on first call.  A
    failing sub-batch is retried ``max_retries`` times, then its rows embed
    to None — failures are per-sub-batch data, never a job abort.

    ``backoff_base``: transient API failures overwhelmingly mean rate
    limiting — immediate re-calls hammer the endpoint and extend the
    outage.  Retries sleep ``backoff_base · 2^attempt`` seconds
    (exponential; ``sleep`` injectable so tests run instantly).
    """

    def __init__(self, transport, dim: int, batch_size: int = 256,
                 max_retries: int = 3, backoff_base: float = 0.5,
                 sleep=None):
        if batch_size < 1 or max_retries < 1:
            raise ValueError("batch_size and max_retries must be >= 1")
        self.transport = transport
        self.dim = dim
        self.batch_size = batch_size
        self.max_retries = max_retries
        self.backoff_base = backoff_base
        self.sleep = sleep

    def _call_with_retry(self, chunk: list[str]) -> list[list[float] | None]:
        import time
        do_sleep = self.sleep if self.sleep is not None else time.sleep
        for attempt in range(self.max_retries):
            try:
                vecs = self.transport(chunk)
                break
            except Exception:
                if attempt == self.max_retries - 1:
                    return [None] * len(chunk)  # E1: None on exhausted retries
                do_sleep(self.backoff_base * (2 ** attempt))
        else:  # pragma: no cover — loop always breaks or returns
            return [None] * len(chunk)
        if len(vecs) != len(chunk):
            return [None] * len(chunk)  # malformed response = failure
        # P10 fp32 contract — same cast the reference applies at :301 — and
        # a width check: a wrong-dim vector is a malformed response (it would
        # poison every cosine against the table), not data
        return [None if v is None or len(v) != self.dim
                else [float(np.float32(x)) for x in v]
                for v in vecs]

    def embed_batch(self, texts: pd.Series) -> pd.Series:
        out: list[list[float] | None] = []
        vals = texts.tolist()
        for start in range(0, len(vals), self.batch_size):
            chunk = vals[start:start + self.batch_size]
            # None texts never reach the API (reference embeds only cleansed
            # non-empty pages); keep positions aligned
            live = [(j, t) for j, t in enumerate(chunk) if t is not None]
            results: list[list[float] | None] = [None] * len(chunk)
            if live:
                vecs = self._call_with_retry([t for _, t in live])
                for (j, _), v in zip(live, vecs):
                    results[j] = v
            out.extend(results)
        return pd.Series(out, index=texts.index, dtype="object")


def embed_udf(embedder: Embedder | None = None):
    """Scalar pandas_udf computing array<float> embeddings.

    Rows that fail embed to null — callers filter with
    ``col(...).isNotNull()``, mirroring E2's skip-with-log
    (modules/utilities.py:207-208).  The default-embedder UDF is built
    once per process (memoized) — re-wrapping it on every pipeline
    construction is pure driver overhead.

    The UDF is declared NONDETERMINISTIC, which is the truth for a remote
    API (a call can fail transiently and succeed on the next try).  A
    deterministic UDF lets Catalyst push that null filter below the
    projection and inline the UDF into it: the plan then holds two
    ``ArrowEvalPython`` nodes and embeds every row twice — twice the
    Python tasks, twice the API calls, and a row whose FIRST call
    succeeded but whose second failed slips past the filter with a null
    vector (null cosine; NaN sorts first).  Nondeterministic, it runs
    exactly once per row and the filter sees the value that is stored.
    """
    if embedder is None:
        return _default_embed_udf()
    return _make_embed_udf(embedder)


def _make_embed_udf(emb: Embedder):
    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            yield emb.embed_batch(texts)

    return _embed.asNondeterministic()


@functools.lru_cache(maxsize=1)
def _default_embed_udf():
    return _make_embed_udf(HashNgramEmbedder())


def embed_text(text: str, embedder: Embedder | None = None) -> list[float]:
    """Q1 — driver-side single-prompt embed (modules/utilities.py:376-377)."""
    emb = embedder or HashNgramEmbedder()
    return emb.embed_batch(pd.Series([text])).iloc[0]


class LocalModelTransport:
    """Deterministic transport for tests and demos: the batched call hits
    the local hash-ngram model instead of an HTTP API — same
    ``list[str] -> list[list[float]]`` contract a production transport
    implements, so RemoteEmbedder's batching/retry/fp32 machinery runs
    UNCHANGED on top of it (and, because the model is the oracle-checkable
    one, end-to-end pipelines through RemoteEmbedder stay value-verified).
    Picklable: holds only the model config."""

    def __init__(self, dim: int = 64):
        self.dim = dim

    def __call__(self, texts: list[str]) -> list[list[float]]:
        model = HashNgramEmbedder(self.dim)
        return [model._vec(t) for t in texts]
