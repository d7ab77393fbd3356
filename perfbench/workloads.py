"""The benchmark workloads.

Each workload builds its stores in ``setup`` and then serves ops, one at
a time, from a closed loop with one client (``run.py``).  An op returns
the number of work items it completed (documents for ``ingest``, one
query for ``search_graph``); ``check`` verifies its output afterwards,
outside the timed region, and raises ``CheckFailed`` on a wrong result.
Every op gets its own seeded input; nothing is cached across ops or
runs.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, FloatType, IntegerType, LongType,
                               StructField, StructType)

from openai_vector_search_demo_spark.config import (CHUNK_WORDS,
                                                    SCORE_THRESHOLD)
from openai_vector_search_demo_spark.embedding import embedder
from openai_vector_search_demo_spark.operators import dedup, line_dedup, nsw
from openai_vector_search_demo_spark.operators import repetition
from openai_vector_search_demo_spark.plans import pipeline

import inputs

K = 10

SIZES = {
    "full": {"ingest_first": 200, "ingest_batch": 100, "ingest_batches": 10,
             "graph_base": 300},
    "tiny": {"ingest_first": 60, "ingest_batch": 20, "ingest_batches": 6,
             "graph_base": 300},
}

VEC_SCHEMA = StructType([StructField("vec_id", LongType()),
                         StructField("embedding", ArrayType(FloatType())),
                         StructField("label", IntegerType())])


class CheckFailed(Exception):
    pass


def append_chunks(docs, path: str) -> None:
    """Chunk, embed and append ``docs`` to the chunks table at ``path``."""
    pipeline.ingest_documents(docs).write.mode("append").parquet(path)


def _docs_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf[["doc_id", "source", "text"]])


def _exact_top(mat: np.ndarray, ids: np.ndarray, q, k: int):
    """Indices of the exact cosine top-k of ``q``, id ascending on ties."""
    q = np.asarray(q, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
    sims = np.divide(mat @ q, norms, out=np.zeros(len(mat)),
                     where=norms != 0)
    order = np.lexsort((ids, -sims))
    return order[:k], sims


def _check_ranked(rows, k: int) -> list[int]:
    """Ids of ``(vec_id, similarity)`` rows; checks k distinct ids in
    non-increasing similarity order."""
    ids = [int(r[0]) for r in rows]
    sims = [float(r[1]) for r in rows]
    if len(ids) != k or len(set(ids)) != k:
        raise CheckFailed(f"expected {k} distinct ids, got {ids}")
    if any(a < b - 1e-12 for a, b in zip(sims, sims[1:])):
        raise CheckFailed(f"similarities not sorted: {sims}")
    return ids


def _nsw_query(spark, store: str, source, qvec):
    stride = int(nsw.read_l1_meta(spark, store)["stride"])
    return nsw.nsw_stored_knn(
        spark, store, source, qvec, k=K, ef=nsw.NSW_EF_SERVE,
        rounds=nsw.NSW_ROUNDS, stride=stride, n_entry=nsw.NSW_ENTRY_COUNT,
        sim_col="similarity", m=nsw.NSW_M).select(
            "vec_id", "similarity").collect()


def search_answer(ref: pd.DataFrame, mat: np.ndarray, question: str):
    """The rows ``plans.pipeline.search`` must return over the chunks in
    ``ref``/``mat``: exact cosine top-k (id tie-break), scored, reranked
    and thresholded as ``operators.rerank`` does.  Each row is
    ``(score, retrieval idx, answer, source, page, similarity)``."""
    rank = np.argsort(np.argsort(ref.id.to_numpy()))
    top, sims = _exact_top(mat, rank, embedder.embed_text(question), K)
    hits = []
    for idx, i in enumerate(top):
        row = ref.iloc[i]
        # operators.rerank.deterministic_scorer
        h = hashlib.md5(f"{question}:{row.page_content}".encode())
        hits.append((int(h.hexdigest()[:6], 16) % 101, idx,
                     row.page_content[:160], row.doc_path,
                     int(row.page_no) + 1, sims[i]))
    hits.sort(key=lambda h: (h[0], h[1], h[2]), reverse=True)
    return [h for h in hits if h[0] >= SCORE_THRESHOLD]


def _check_search(question: str, rows, want) -> None:
    got = [(r["Source"], r["Page"]) for r in rows]
    if got != [(h[3], h[4]) for h in want]:
        raise CheckFailed(f"search({question!r}) returned {got}, "
                          f"expected {[(h[3], h[4]) for h in want]}")
    for r, h in zip(rows, want):
        if abs(r["Similarity"] - h[5]) > 1e-9 or r["Score"] != h[0]:
            raise CheckFailed(f"search({question!r}): {r} vs {h}")


class Ingest:
    """Batches of documents through dedup, line dedup, repetition
    signals and chunk/embed/append; after each batch, a read-after-write
    check through ``plans.pipeline.search``.  The first later batch is an
    untimed warm-up: it runs 1.3-1.6x slower than the ones after it.
    ``op_cpu_ms`` is the CPU time of the next batch."""

    warmup = 1
    timed = 1

    def __init__(self, spark, seed: int, sizes: dict, root: str):
        self.spark, self.seed = spark, seed
        self.batches, self.copies = inputs.ingest_batches(
            seed, sizes["ingest_first"], sizes["ingest_batch"],
            sizes["ingest_batches"])
        self.band = os.path.join(root, "band")
        self.lines = os.path.join(root, "lines")
        self.chunks = os.path.join(root, "chunks")
        self.pick = inputs.rng_for(seed, "pick")
        self.admitted: list[list[int]] = []
        self.admit_ratio: list[float] = []
        self.kept_line_ratio: list[float] = []
        self.rows_out: list[int] = []
        self.recall: list[float] = []
        self.ref = pd.DataFrame()

    def setup(self) -> None:
        first = self.batches[0]
        docs = _docs_df(self.spark, first)
        dedup.write_band_index(docs, self.band)
        line_dedup.write_line_index(docs, self.lines)
        append_chunks(docs, self.chunks)
        self.admitted.append(first.doc_id.tolist())
        self._pull(0)

    def _pull(self, first_id: int) -> pd.DataFrame:
        """Add the chunks of doc ids >= ``first_id`` to the exact
        reference and return them."""
        doc_id = F.regexp_extract("doc_path", r"(\d+)$", 1).cast("long")
        new = (self.spark.read.parquet(self.chunks)
               .filter(doc_id >= first_id)
               .select("id", "doc_path", "page_no", "page_content",
                       "embedding")
               .toPandas())
        self.ref = pd.concat([self.ref, new], ignore_index=True)
        self.mat = np.stack(self.ref.embedding.to_numpy()).astype(np.float64)
        return new

    def inputs(self):
        return iter(self.batches[1:])

    def op(self, batch: pd.DataFrame) -> int:
        spark = self.spark
        docs = _docs_df(spark, batch)
        matches = dedup.ingest_batch_against_index(spark, docs,
                                                   self.band).collect()
        rejected = {int(r["new_id"]) for r in matches}
        admitted = docs.filter(~F.col("doc_id").isin(sorted(rejected)))
        rebuilt = line_dedup.ingest_lines_against_index(
            spark, admitted, self.lines).select("doc_id", "text").toPandas()
        kept = rebuilt[rebuilt.text.str.strip() != ""]
        kept_df = spark.createDataFrame(kept.assign(
            source=[f"doc-{i:06d}" for i in kept.doc_id]))
        self._signals = repetition.ngram_repetition_signals(
            kept_df).count()
        append_chunks(kept_df, self.chunks)
        self._last = (batch, rejected, rebuilt, kept, kept_df)
        return len(batch)

    def check(self) -> None:
        batch, rejected, rebuilt, kept, _ = self._last
        ids = set(batch.doc_id.tolist())
        if not rejected <= ids:
            raise CheckFailed(f"dedup matched ids outside the batch: "
                              f"{sorted(rejected - ids)[:5]}")
        exact = {d for d in ids if self.copies.get(d, (0, -1))[1] == 0}
        if not exact <= rejected:
            raise CheckFailed(f"exact copies admitted: "
                              f"{sorted(exact - rejected)[:5]}")
        admitted = sorted(ids - rejected)
        self.admitted.append(admitted)
        self.admit_ratio.append(len(admitted) / len(batch))
        lines_in = sum(len(t.split("\n")) for t in
                       batch[batch.doc_id.isin(admitted)].text)
        lines_kept = sum(len([ln for ln in t.split("\n") if ln.strip()])
                         for t in rebuilt.text)
        self.kept_line_ratio.append(lines_kept / lines_in if lines_in else 0)
        # one signal row per n in 2..5 that the document has n tokens for
        want = sum(sum(len(t.split()) >= n for n in (2, 3, 4, 5))
                   for t in kept.text)
        if self._signals != want:
            raise CheckFailed(f"{self._signals} repetition rows, "
                              f"expected {want}")
        new = self._pull(int(batch.doc_id.min()))
        want = sum(math.ceil(len(t.split()) / CHUNK_WORDS)
                   for t in kept.text)
        if len(new) != want:
            raise CheckFailed(f"{len(new)} chunks appended, "
                              f"expected {want}")
        self.rows_out.append(len(new))
        # read after write: a word window of a just-appended chunk, asked
        # through plans.pipeline.search, gets the exact answer over every
        # chunk ingested so far
        target = new.iloc[int(self.pick.integers(len(new)))]
        words = target.page_content.split()
        w = int(self.pick.integers(4, 9))
        s = int(self.pick.integers(0, max(1, len(words) - w + 1)))
        question = " ".join(words[s:s + w])
        rows = pipeline.search(self.spark.read.parquet(self.chunks),
                               question, k=K).collect()
        _check_search(question, rows, search_answer(self.ref, self.mat,
                                                    question))
        # the check passed, so the whole exact answer came back
        self.recall.append(1.0)

    def udf_projection(self) -> int:
        """The batch's embedding stage on its own (traced pass only)."""
        kept_df = self._last[4]
        (kept_df.select(embedder.embed_udf()(F.col("text")))
         .write.format("noop").mode("overwrite").save())
        return len(self._last[3])

    def digests(self) -> list[str]:
        """Per batch, a fingerprint of the admitted document ids."""
        return [hashlib.sha1(",".join(map(str, ids)).encode()).hexdigest()[:12]
                for ids in self.admitted]


class SearchGraph:
    """``operators.nsw.nsw_stored_knn`` for held-out vectors against a
    store built in setup from the same 300 vectors for every seed.  The
    first ``warmup`` queries are untimed: the first few queries of a
    process run 1.5-2.5x slower.  ``op_cpu_ms`` is the median CPU time of
    the next ``timed`` ones."""

    warmup = 2
    timed = 3

    def __init__(self, spark, seed: int, sizes: dict, root: str):
        self.spark, self.seed = spark, seed
        self.base_pdf, self.queries = inputs.graph_split(
            seed, sizes["graph_base"])
        self.base_path = os.path.join(root, "base")
        self.store = os.path.join(root, "nsw")
        self.recall: list[float] = []

    def setup(self) -> None:
        pdf = self.base_pdf.assign(
            embedding=[np.asarray(e, dtype=np.float32).tolist()
                       for e in self.base_pdf.embedding])
        (self.spark.createDataFrame(pdf, VEC_SCHEMA)
         .write.parquet(self.base_path))
        self.base = self.spark.read.parquet(self.base_path)
        nsw.write_nsw_index(self.base, self.store, m=nsw.NSW_M)
        self.ids = self.base_pdf.vec_id.to_numpy()
        self.mat = np.stack(self.base_pdf.embedding.to_numpy()).astype(
            np.float64)

    def inputs(self):
        return iter(self.queries.embedding)

    def op(self, qvec) -> int:
        self._last = (qvec, _nsw_query(self.spark, self.store, self.base,
                                       np.asarray(qvec).tolist()))
        return 1

    def check(self) -> None:
        qvec, rows = self._last
        got = _check_ranked(rows, K)
        top, _ = _exact_top(self.mat, self.ids, qvec, K)
        self.recall.append(len(set(got) & set(self.ids[top].tolist())) / K)


def patches():
    """What the traced pass wraps: ``(module, attribute, span name,
    materialize)`` for ``spans.Tracer``."""
    from openai_vector_search_demo_spark.operators import rerank
    me = sys.modules[__name__]
    return [
        (me, "append_chunks", "pipeline.ingest", False),
        (dedup, "ingest_batch_against_index", "dedup", False),
        (line_dedup, "ingest_lines_against_index", "line_dedup", True),
        (repetition, "ngram_repetition_signals", "repetition", True),
        (nsw, "write_nsw_index", "nsw.write", False),
        (nsw, "nsw_stored_knn", "nsw.read", True),
        (pipeline, "search", "search", False),
        (pipeline, "embed_text", "embedding.query", False),
        (pipeline, "knn", "knn", True),
        (rerank, "rerank", "rerank", True),
    ]


WORKLOADS = {"ingest": Ingest, "search_graph": SearchGraph}
