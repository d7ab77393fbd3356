"""The two reference entry points as declarative DataFrame plans.

§3.1 ingest/index  (upload_button_click, app/app.py:130-190):
    raw docs → chunk (C3) → cleanse (P1) → non-empty filter (P2) → embed (E1)
    → key (S9) → chunks table.
One job; the embed stage is the only Python boundary and is Arrow-batched.
It runs ONCE per chunk: ``embed_udf`` is nondeterministic, so the E2 null
filter stays above the projection instead of being pushed below it with
the UDF inlined (two ``ArrowEvalPython`` nodes — every chunk embedded
twice, and a transient failure on the second call storing a null vector).
The plan pin is ``tests/test_plans.py::test_ingest_plans_hold_one_embed_node``.

§3.2 search  (search_click → getResult, app/app.py:249-334,64-113):
    embed prompt (Q1) → exact cosine KNN top-k (Q2–Q5) → similarity (P7/Q6)
    → rerank score (E3) → 3-key desc sort (Q7) → limit+threshold (Q8) →
    answer assembly (Q9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.config import (
    DEFAULT_TOP_K,
    SCORE_THRESHOLD,
)
from openai_vector_search_demo_spark.embedding.embedder import (
    Embedder,
    embed_text,
    embed_udf,
)
from openai_vector_search_demo_spark.functions.hashing import record_key
from openai_vector_search_demo_spark.functions.text import cleanse_text, non_empty
from openai_vector_search_demo_spark.operators.chunking import chunk_documents
from openai_vector_search_demo_spark.operators.knn import knn


def _parse_size_bytes(value: str) -> int:
    """Spark size-string → bytes: bare numbers plus the k/m/g/t suffix
    family, case-insensitive, with or without a trailing 'b' ('134217728',
    '128m', '128MB', '1g').  Mirrors Spark's JavaUtils.byteStringAsBytes
    for the forms a user can legally put in maxPartitionBytes."""
    import re
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", value.lower())
    if not m:
        raise ValueError(f"unparseable size string: {value!r}")
    return int(m.group(1)) * (1024 ** "\0kmgtp".index(m.group(2) or "\0"))


def spread_for_python(df: DataFrame, factor: int = 4,
                      num_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions to overlap Arrow-batched Python stages.

    A small corpus scans as ONE file split, so a downstream pandas-UDF
    stage (embedding) runs serial on one core.  When the input is a few
    SMALL files (fewer than ~cores/factor, under one scan-split each),
    repartition up to that; when it is already split — the 100 TB case,
    thousands of file splits — this is a no-op and costs nothing.
    ``factor`` > 1 because tiny Arrow batches pay per-batch Python
    overhead; cores/4 measured fastest for the embed stage (0.97 s vs
    1.15 s at cores and 2.0 s unsplit, sf0.1).

    CALLER CONTRACT: the automatic heuristic only acts on LOCAL files
    (``file:`` / bare-path URIs).  Object-store inputs (s3://, abfs://,
    hdfs://, …) are deliberately left alone — the driver can't stat them
    cheaply, and under-splitting is the safe default (tenths of a second
    on a small corpus) where a wrong repartition of a big one costs a
    cluster-wide shuffle.  A SMALL remote corpus therefore still hits the
    serial-Python-stage problem: pass ``num_partitions`` explicitly to
    force the spread (it bypasses detection entirely and applies to any
    scheme).

    Detection reads the plan's file list (driver-side listing, ~ms) and
    local file sizes — NOT ``df.rdd.getNumPartitions()``, which runs the
    whole physical planner a second time (~0.15 s per query build).  Any
    doubt (stat failure, unparseable conf) means no repartition.
    """
    if num_partitions is not None:
        if num_partitions < 1:
            raise ValueError("num_partitions must be >= 1")
        return df.repartition(num_partitions)
    sess = df.sparkSession
    target = max(2, sess.sparkContext.defaultParallelism // factor)
    try:
        files = df.inputFiles()
        if len(files) == 0 or len(files) >= target:
            return df
        import os
        from urllib.parse import unquote, urlparse
        try:
            split_bytes = _parse_size_bytes(
                sess.conf.get("spark.sql.files.maxPartitionBytes",
                              str(128 * 1024 * 1024)))
        except ValueError:
            split_bytes = 128 * 1024 * 1024  # Spark's default
        total = 0
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("file", ""):
                return df
            total += os.path.getsize(unquote(u.path))
        if total <= split_bytes:
            return df.repartition(target)
    except Exception:  # noqa: BLE001 — heuristic only, never fail the plan
        pass
    return df


def ingest_documents(docs: DataFrame,
                     text_col: str = "text",
                     path_col: str = "source",
                     tenant: str = "default",
                     embedder: Embedder | None = None,
                     chunk_size: int | None = None) -> DataFrame:
    """§3.1 as one plan: documents(text, source) → chunks table rows
    ``(id, tenant, doc_path, page_no, page_content, embedding)``.

    Stores the *original* chunk text (pre-cleanse) like the reference does
    (modules/utilities.py:204); the cleansed form feeds only the filter and
    the embedder (modules/utilities.py:196-206).
    """
    kwargs = {} if chunk_size is None else {"size": chunk_size}
    chunked = chunk_documents(
        spread_for_python(
            docs.select(F.col(path_col).alias("doc_path"), F.col(text_col))),
        text_col=text_col, chunk_col="page_content", **kwargs)
    cleansed = chunked.withColumn("_cleansed", cleanse_text("page_content"))
    kept = cleansed.filter(non_empty(F.col("_cleansed")))
    embedded = kept.withColumn("embedding", embed_udf(embedder)(F.col("_cleansed")))
    return (embedded
            .filter(F.col("embedding").isNotNull())  # E2 null-skip, :207-208
            .withColumn("id", record_key("doc_path", "page_no"))
            .withColumn("tenant", F.lit(tenant))
            .select("id", "tenant", "doc_path", "page_no",
                    "page_content", "embedding"))


def ingest_pages(pages: DataFrame,
                 text_col: str = "text",
                 path_col: str = "doc_path",
                 page_col: str = "page_no",
                 tenant: str = "default",
                 embedder: Embedder | None = None) -> DataFrame:
    """§3.1 for *pre-paginated* input (cracked PDF pages, repaginated DOCX):
    cleanse → filter → embed → key, keeping the given page numbers.  The
    record key is sha1(doc_path + '_' + page_no) over the **cracked page
    index** (modules/utilities.py:344 keys the post-crack list position) —
    re-chunking here would collide ids across pages of one document.
    """
    renamed = spread_for_python(
        pages.select(F.col(path_col).alias("doc_path"),
                     F.col(page_col).cast("int").alias("page_no"),
                     F.col(text_col).alias("page_content")))
    cleansed = renamed.withColumn("_cleansed", cleanse_text("page_content"))
    kept = cleansed.filter(non_empty(F.col("_cleansed")))
    embedded = kept.withColumn("embedding", embed_udf(embedder)(F.col("_cleansed")))
    return (embedded
            .filter(F.col("embedding").isNotNull())
            .withColumn("id", record_key("doc_path", "page_no"))
            .withColumn("tenant", F.lit(tenant))
            .select("id", "tenant", "doc_path", "page_no",
                    "page_content", "embedding"))


def crack_and_ingest(raw: DataFrame, tenant: str = "default",
                     embedder: Embedder | None = None) -> DataFrame:
    """S1–S3 + §3.1 end-to-end for raw binary documents.

    Reference page semantics per format (SURVEY §2.1): PDF (and the fake
    test format) → one page per physical page (S1); DOCX → whole blob
    re-paginated into 300-word synthetic pages (S2, modules/utilities.py:62-73).
    """
    from openai_vector_search_demo_spark.functions.text import document_extension
    from openai_vector_search_demo_spark.operators.chunking import chunk_documents
    from openai_vector_search_demo_spark.sources.doc_crack import crack_documents

    # error rows (unparseable documents) are data for the caller to count —
    # only clean pages proceed to ingestion
    pages = crack_documents(raw).filter(F.col("error").isNull())
    is_word = document_extension("doc_path").isin("docx", "doc")
    word_pages = (chunk_documents(
        pages.filter(is_word).select("doc_path", F.col("text")),
        text_col="text", chunk_col="page_text")
        .select("doc_path", F.col("page_no"), F.col("page_text").alias("text")))
    other_pages = pages.filter(~is_word).select("doc_path", "page_no", "text")
    return ingest_pages(other_pages.unionByName(word_pages),
                        tenant=tenant, embedder=embedder)


def search(chunks: DataFrame,
           question: str,
           k: int = DEFAULT_TOP_K,
           tenant: str | None = None,
           embedder: Embedder | None = None,
           scorer=None,
           score_threshold: int = SCORE_THRESHOLD) -> DataFrame:
    """§3.2 as one plan.  Returns the reference's answer shape
    (app/app.py:102-109): Answer, Score, Content, Source, Similarity, Page.

    ``scorer(question, df) -> df + (answer, score)`` is the pluggable E3
    stage; None uses the deterministic local scorer (tests/bench).
    """
    from openai_vector_search_demo_spark.config import PROMPT_MAX_LEN, PROMPT_MIN_LEN
    from openai_vector_search_demo_spark.operators.rerank import (
        deterministic_scorer,
        rerank,
    )

    # P11 prompt validation (app/app.py:36-39,254) — and a clear error for
    # E1's None-on-failure contract instead of an opaque TypeError downstream
    if not (PROMPT_MIN_LEN <= len(question.strip()) <= PROMPT_MAX_LEN):
        raise ValueError(
            f"question length must be in [{PROMPT_MIN_LEN}, {PROMPT_MAX_LEN}] "
            f"after trimming (got {len(question.strip())})")
    qvec = embed_text(question, embedder)
    if qvec is None:
        raise ValueError("question embedding failed (E1 returned None)")
    scoped = chunks.filter(F.col("tenant") == tenant) if tenant else chunks
    hits = knn(scoped, qvec, k=k, sim_col="similarity", tie_break="id")
    # Materialize the k hits BEFORE the E3 scorer: production scoring is
    # one LLM call per row, and without a hard boundary the
    # once-per-candidate guarantee hinges on AQE's exchange
    # materialization — with AQE disabled the scorer pipelines under
    # CollectLimit and runs per-partition-wide (measured: 30 rows for
    # k=5).  One k-row checkpoint job is noise next to k LLM calls;
    # the execution-count pin is
    # tests/test_plans.py::test_search_scorer_executes_once_per_candidate.
    hits = hits.localCheckpoint()
    scored = (scorer or deterministic_scorer)(question, hits)
    # known_small: hits is knn(..., k).limit(k) — statically bounded, so the
    # retrieval-idx size guard must not spend a probe job (the r2 defect ran
    # the whole KNN+scorer subtree twice per search)
    return rerank(scored, k=k, threshold=score_threshold, known_small=True)
