"""Cross-document line deduplication — the CCNet / RefinedWeb
boilerplate-stripping pass (public method descriptions: CCNet,
Wenzek et al. 2020 §4.1 "deduplicating paragraphs across shards";
RefinedWeb, Penedo et al. 2023 §3 line-level corrections; MassiveText's
repetition filters are the INTRA-doc cousin in
``operators/repetition.py``).

Web corpora share navigation chrome, cookie banners, and license
footers across millions of pages.  This operator splits documents
into lines, finds line CONTENT that appears in multiple documents,
removes it under one of two public policies, and reconstructs the
cleansed documents in original line order:

- ``policy="boilerplate"`` (RefinedWeb-style): drop EVERY occurrence of
  a line that appears in ≥ ``min_docs`` distinct documents — chrome is
  noise in all of its hosts.
- ``policy="keep_first"`` (CCNet-style hash-set dedup, made
  deterministic for a distributed engine): keep only the globally
  first occurrence — smallest ``(doc_id, pos)`` — of each line
  content; later occurrences drop.

Scale posture (100 TB): lines are grouped by ``md5(line)`` — a
fixed-width key (the shuffle carries 32-byte keys, not line bytes)
that both engines compute bit-identically, so the correctness gate
replays it.  Hot boilerplate lines are single keys, i.e. join/agg
skew by construction; every aggregate here is chosen so map-side
partials collapse the hot key BEFORE the wire:

- the distinct-doc count is two phases — ``groupBy(hash, doc)``
  (keys unique ⇒ uniform) then ``groupBy(hash).count()`` (partial
  counts: each reducer receives ≤ #map-partitions rows per key);
- ``keep_first`` is one ``min(struct(doc_id, pos))`` per hash —
  partial-agg min, same property;
- the verdict joins back to occurrences on the hash — a hot key is
  one build-side row, and AQE's skew-join split handles the probe
  side (`spark.sql.adaptive.enabled`).

Reconstruction is ``groupBy(doc)`` over KEPT lines only (bounded by
document size, the same key class every per-doc agg in the repo
uses).  No UDF anywhere; ANSI-SQL-replayable.

The INCREMENTAL tier (``write_line_index`` /
``dedup_lines_against_index`` / ``ingest_lines_against_index``) is
CCNet's actual deployment shape — each arriving shard is deduplicated
against the hash set of everything already ingested — as a stored,
bucket-partitioned index of distinct line hashes: the history is
never re-read, re-split, or re-hashed per batch, and concatenating
the per-batch outputs equals the one-shot ``keep_first`` rule ordered
by (batch, doc_id, pos).  The ``write_band_index`` pattern
(``operators/dedup.py:449``) applied to the line unit.

The BOUNDED-STATE tier (``bloom_line_bitmap`` / ``bloom_admit_lines``)
is the Dolma design: membership state is a FIXED ~33 KB bitmap
(m=2^18 bits, k=5 md5-derived hashes) instead of a corpus-sized hash
set, so at any corpus size the filter broadcasts whole and admission
is map-only — the bitmap rides the plan as a constant array, zero
joins, zero membership shuffle.  False positives are deterministic
(md5 positions) and replay bit-for-bit in the DuckDB oracle; rate =
(1 − e^(−k·n/m))^k for n distinct stored lines.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["dedup_lines_across_docs", "write_line_index",
           "dedup_lines_against_index", "ingest_lines_against_index",
           "bloom_line_bitmap", "bloom_admit_lines",
           "LINE_INDEX_BUCKETS", "BLOOM_M_BITS", "BLOOM_K"]

LINE_INDEX_BUCKETS = 16


def _line_occurrences(df: DataFrame, text_col: str, id_col: str,
                      line_sep: str):
    """Shared derivation: ``(base, occ)`` where base = (doc_id, lines)
    for docs with ≥ 1 non-empty line and occ = one (doc_id, pos, line,
    lh=md5(line)) row per occurrence."""
    lines = F.filter(F.split(F.col(text_col), re.escape(line_sep)),
                     lambda x: x != "")
    base = (df.select(F.col(id_col).alias("doc_id"),
                      lines.alias("lines"))
            .filter(F.size("lines") > 0))
    occ = (base.select("doc_id", F.posexplode("lines")
                       .alias("pos", "line"))
           .withColumn("lh", F.md5("line")))
    return base, occ


def _rebuild(base: DataFrame, kept: DataFrame,
             line_sep: str) -> DataFrame:
    """Reassemble kept lines into documents (original order), with
    keep/remove counts; docs that lost everything get empty text."""
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "line"))),
                            lambda s: s["line"]),
                        line_sep).alias("text"),
                    F.count(F.lit(1)).alias("n_kept")))
    n_all = base.select("doc_id", F.size("lines").alias("n_lines"))
    return (n_all.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("text"), F.lit("")).alias("text"),
                    "n_lines",
                    F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))
                    .alias("n_kept"),
                    (F.col("n_lines")
                     - F.coalesce(F.col("n_kept"), F.lit(0).cast("long")))
                    .alias("n_removed")))


def _keep_first_within(occ: DataFrame) -> DataFrame:
    """Keep only the smallest (doc_id, pos) occurrence per line hash —
    one partial-agg min per hash (skew-safe)."""
    first = occ.groupBy("lh").agg(F.min(F.struct("doc_id", "pos"))
                                  .alias("m"))
    return (occ.join(first, "lh")
            .filter((F.col("doc_id") == F.col("m.doc_id"))
                    & (F.col("pos") == F.col("m.pos")))
            .drop("m"))


def dedup_lines_across_docs(df: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            line_sep: str = "\n",
                            min_docs: int = 2,
                            policy: str = "boilerplate") -> DataFrame:
    """Remove duplicated lines ACROSS documents and rebuild the text.

    Returns one row per input document that has at least one non-empty
    line: ``(doc_id, text, n_lines, n_kept, n_removed)`` where ``text``
    is the kept lines re-joined with ``line_sep`` in original order
    (empty string when everything was removed).  ``line_sep`` is a
    literal separator.  See the module docstring for the two policies.
    """
    base, occ = _line_occurrences(df, text_col, id_col, line_sep)
    return _rebuild(base, _policy_kept(occ, policy, min_docs), line_sep)


def _policy_kept(occ: DataFrame, policy: str,
                 min_docs: int = 2) -> DataFrame:
    """The kept occurrences of one policy over a shared occurrence
    frame — callers auditing BOTH policies derive them from ONE
    tokenize/split/md5 pass instead of two."""
    if policy == "boilerplate":
        # distinct (hash, doc) first — unique keys, uniform shuffle —
        # then a partial-agg count per hash: skew-safe both phases
        bad = (occ.select("lh", "doc_id").distinct()
               .groupBy("lh").agg(F.count(F.lit(1)).alias("nd"))
               .filter(F.col("nd") >= min_docs)
               .select("lh"))
        return occ.join(bad, "lh", "left_anti")
    if policy == "keep_first":
        return _keep_first_within(occ)
    raise ValueError(f"unknown policy {policy!r}")


def _line_bucket(lh):
    """Stable bucket for a line hash: the store's partition key."""
    return F.pmod(F.conv(F.substring(lh, 1, 15), 16, 10).cast("long"),
                  F.lit(LINE_INDEX_BUCKETS)).cast("int")


def _append_owners(kept: DataFrame, path: str,
                   mode: str = "append") -> None:
    """Write the ``(lh, doc_id)`` owner rows of ``_keep_first_within``
    output, bucket-partitioned.  That output has one row per ``lh``
    (a batch repeating a doc id can repeat an owner row, which the
    read side's min() resolution collapses), so no distinct shuffle."""
    (kept.select("lh", "doc_id")
     .withColumn("bucket", _line_bucket(F.col("lh")))
     .repartition(F.col("bucket"))
     .write.mode(mode).partitionBy("bucket").parquet(path))


def write_line_index(df: DataFrame, path: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     line_sep: str = "\n",
                     mode: str = "overwrite") -> None:
    """Persist the corpus's distinct line hashes WITH THEIR OWNERS,
    bucket-partitioned — the stored side of CCNet's
    shard-against-history dedup (each shard is deduplicated against
    the hash set of everything already ingested; the history is never
    re-split or re-hashed).  One row per distinct line content:
    ``(lh, doc_id=owner, bucket)`` where the owner is the keep_first
    winner's document — the owner column is what makes the ingest loop
    REPLAY-SAFE: a re-delivered batch's docs own their kept lines, so
    they reproduce their original output instead of self-colliding
    (the NSW store's merge-on-read idempotency argument applied to
    lines; duplicate owner rows from replays are byte-identical and
    collapse under the read side's min() resolution).  Laid out
    ``bucket=B/part-*.parquet`` so the membership join co-locates by a
    fixed-width key and a bucket's files stay bounded."""
    _, occ = _line_occurrences(df, text_col, id_col, line_sep)
    _append_owners(_keep_first_within(occ), path, mode=mode)


def _store_owners(spark, store: str, id_type: str) -> DataFrame:
    """Resolved ``(lh, owner)`` view of a line index: duplicate owner
    rows (at-least-once appends) collapse to min — one partial-agg min
    per hash, skew-safe.  Read with the index's fixed schema (``id_type``
    is the batch's doc id type, the type the writer stores) instead of
    inferring it: inference is one parquet-footer job per read."""
    return (spark.read.schema(f"lh string, doc_id {id_type}, bucket int")
            .parquet(store)
            .groupBy("lh").agg(F.min("doc_id").alias("owner")))


def _admitted_occurrences(spark, batch: DataFrame, store: str,
                          text_col: str, id_col: str, line_sep: str):
    """Shared admission core: ``(base, kept)`` where kept = the batch's
    surviving line occurrences after the store-owner rule + within-
    batch keep_first."""
    base, occ = _line_occurrences(batch, text_col, id_col, line_sep)
    owners = _store_owners(spark, store,
                           occ.schema["doc_id"].dataType.simpleString())
    eligible = (occ.join(owners, "lh", "left")
                .filter(F.col("owner").isNull()
                        | (F.col("owner") == F.col("doc_id")))
                .drop("owner"))
    return base, _keep_first_within(eligible)


def dedup_lines_against_index(spark, batch: DataFrame, store: str,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              line_sep: str = "\n") -> DataFrame:
    """Deduplicate an arriving batch's lines against a
    ``write_line_index`` store AND within the batch itself (CCNet shard
    semantics): a line drops if its content hash is owned by an EARLIER
    document in the index, or if an earlier (doc_id, pos) occurrence
    exists in this batch.  A batch doc that OWNS a stored line keeps
    its first occurrence of it — that is the replay case (the doc's
    own earlier delivery appended the owner row), and it reproduces
    the original output exactly.  Returns the rebuilt documents — the
    ``dedup_lines_across_docs`` output contract.  The history side
    contributes one fixed-width row per distinct line ever seen; the
    batch never re-reads, re-splits, or re-hashes earlier shards."""
    base, kept = _admitted_occurrences(batch=batch, spark=spark,
                                       store=store, text_col=text_col,
                                       id_col=id_col, line_sep=line_sep)
    return _rebuild(base, kept, line_sep)


def ingest_lines_against_index(spark, batch: DataFrame, store: str,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               line_sep: str = "\n") -> DataFrame:
    """One admission round of the continuous line-dedup loop: dedup the
    batch against the store (and within itself), append the SURVIVING
    lines' ``(lh, owner)`` rows to the store, and return the rebuilt
    batch documents.  The kept OCCURRENCES are pinned with
    ``localCheckpoint`` before the append (the band-index lesson: a
    lazy plan re-reading the very files the append grows would
    double-count) and feed both the owner append and the rebuild — the
    admitted lines are never re-split or re-hashed.  IDEMPOTENT under
    at-least-once replay: a re-delivered batch's docs own their kept
    lines in the store, so the dedup reproduces the original output
    and the append re-writes byte-identical owner rows (min-resolved
    at read).  Concatenating each batch's output equals the one-shot
    ``keep_first`` rule ordered by (batch, doc_id, pos)."""
    base, kept = _admitted_occurrences(batch=batch, spark=spark,
                                       store=store, text_col=text_col,
                                       id_col=id_col, line_sep=line_sep)
    kept = kept.localCheckpoint()
    _append_owners(kept, store)
    return _rebuild(base, kept, line_sep)


# ---------------------------------------------------------------------------
# Bounded-state tier: Bloom-filter line dedup (the Dolma design — public
# method description: a fixed-size bit array replaces the exact hash set,
# so corpus-scale membership state fits in one broadcastable bitmap and
# admission is MAP-ONLY).
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 18   # 262,144 bits ≈ 4,161 longs ≈ 33 KB bitmap
BLOOM_K = 5              # hash functions per line


def _bloom_positions(line_col, m_bits: int = BLOOM_M_BITS,
                     k: int = BLOOM_K):
    """The k bit positions of a line: ``h60(j || '|' || line) % m`` —
    md5-derived, so DuckDB replays every position (and therefore every
    false positive) bit-for-bit."""
    from openai_vector_search_demo_spark.functions.text_analysis import (
        _hash60,
    )
    return [F.pmod(_hash60(F.concat(F.lit(f"{j}|"), line_col)),
                   F.lit(m_bits)) for j in range(k)]


def bloom_line_bitmap(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", line_sep: str = "\n",
                      m_bits: int = BLOOM_M_BITS,
                      k: int = BLOOM_K) -> list[int]:
    """Build the corpus's line Bloom filter and return it as a Python
    list of ``⌈m_bits / 63⌉`` longs (the driver-side state is the WHOLE
    POINT: a fixed 10-bits-per-line bitmap fits in one machine at any
    corpus size — Dolma's deployment shape — where the exact hash set
    is corpus-sized).  Distributed build: explode the k positions,
    distinct, ``bit_or`` per 63-bit slot (bit 63 unused: DuckDB's
    checked arithmetic rejects ``1::BIGINT << 63``, so both engines
    pack 63 bits/long) — partial aggs collapse everything map-side,
    the shuffle is ≤ ⌈m/63⌉ rows."""
    _, occ = _line_occurrences(df, text_col, id_col, line_sep)
    px = (occ.select(F.explode(F.array(
              *_bloom_positions(F.col("line"), m_bits, k))).alias("pos"))
          .distinct())
    rows = (px.selectExpr("CAST(pos DIV 63 AS INT) AS slot",
                          "shiftleft(CAST(1 AS BIGINT),"
                          " CAST(pos % 63 AS INT)) AS m")
            .groupBy("slot").agg(F.bit_or("m").alias("bits"))
            .collect())
    arr = [0] * ((m_bits + 62) // 63)
    for r in rows:
        arr[r.slot] = r.bits
    return arr


def bloom_admit_lines(batch: DataFrame, bitmap: list[int],
                      text_col: str = "text", id_col: str = "doc_id",
                      line_sep: str = "\n",
                      m_bits: int = BLOOM_M_BITS,
                      k: int = BLOOM_K) -> DataFrame:
    """MAP-ONLY admission against a ``bloom_line_bitmap``: a batch line
    whose k bits are ALL set is (maybe-)seen and drops; the bitmap
    rides the plan as one constant array (~33 KB), so the whole pass is
    a scan — zero joins, zero shuffles beyond the per-doc rebuild.
    False positives are deterministic (md5-derived positions) and
    shared bit-for-bit with the DuckDB oracle; the documented rate is
    ``(1 − e^(−k·n/m))^k`` for n distinct stored lines.  Membership
    only — compose with ``dedup_lines_across_docs(policy='keep_first')``
    when within-batch dedup is also wanted.  Returns the
    ``dedup_lines_across_docs`` output contract."""
    base, occ = _line_occurrences(batch, text_col, id_col, line_sep)
    # ONE array literal — F.array over ~4k F.lit children costs seconds
    # of driver-side analysis per call; F.lit(list) is a single Literal
    blm = F.lit([int(v) for v in bitmap]).cast("array<bigint>")
    occ = occ.withColumn("_blm", blm)
    for j, p in enumerate(_bloom_positions(F.col("line"), m_bits, k)):
        occ = occ.withColumn(f"_p{j}", p)
    seen = None
    for j in range(k):
        test = F.expr(
            f"(element_at(_blm, CAST(_p{j} DIV 63 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT),"
            f" CAST(_p{j} % 63 AS INT))) != 0")
        seen = test if seen is None else (seen & test)
    kept = (occ.filter(~seen)
            .select("doc_id", "pos", "line"))
    return _rebuild(base, kept, line_sep)
