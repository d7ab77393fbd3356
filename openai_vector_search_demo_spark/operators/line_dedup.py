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
- ``keep_first`` is one ``min(struct(doc_id, pos, line))`` per hash —
  partial-agg min, same property — and that row IS the kept
  occurrence: no join back to the occurrences.

Reconstruction is ONE ``groupBy(doc)`` over the document rows and the
KEPT lines together (bounded by document size, the same key class
every per-doc agg in the repo uses).  No UDF anywhere;
ANSI-SQL-replayable.

The INCREMENTAL tier (``write_line_index`` /
``dedup_lines_against_index`` / ``ingest_lines_against_index``) is
CCNet's actual deployment shape — each arriving shard is deduplicated
against the hash set of everything already ingested — as a stored
index of distinct line hashes (plain parquet files: a base plus one
segment per admitted batch, ``stores`` module docstring): the history is
never re-read, re-split, or re-hashed per batch, and concatenating
the per-batch outputs equals the one-shot ``keep_first`` rule ordered
by (batch, doc_id, pos).  The band-index pattern of
``operators.dedup.write_band_index`` applied to the line unit.  Per
batch the index is only PROBED: the batch's line occurrences are
broadcast into the index scan, so what leaves the scan is the owner
rows of the batch's own lines — nothing store-sized is aggregated or
shuffled, and a ten-times-larger index costs a larger scan, not a
larger shuffle.  The batch is the build side, so its line hashes must
fit one broadcast; the owner rule and keep_first then share one
batch-sized exchange by line hash (``_admitted_docs``).

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

from openai_vector_search_demo_spark.stores import (
    SEGMENTS,
    layer_paths,
    read_layer,
    read_manifest,
    write_segment,
)

__all__ = ["dedup_lines_across_docs", "write_line_index",
           "dedup_lines_against_index", "ingest_lines_against_index",
           "bloom_line_bitmap", "bloom_admit_lines",
           "BLOOM_M_BITS", "BLOOM_K"]


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


def _assemble(rows: DataFrame) -> DataFrame:
    """ONE ``groupBy(doc_id)`` over rows ``(doc_id, n_lines, pos,
    line)``: a document row carries ``n_lines`` (null ``line``), a kept
    line carries ``(pos, line)`` (null ``n_lines``).  Returns
    ``(doc_id, n_lines, _ls)`` with ``_ls`` the kept ``(pos, line)``
    structs in original order; ``_finish`` turns it into the output
    contract.  A repeated doc id is one output row: its rows' line
    counts add up."""
    return (rows.groupBy("doc_id")
            .agg(F.sum("n_lines").cast("int").alias("n_lines"),
                 F.array_sort(F.collect_list(
                     F.when(F.col("line").isNotNull(),
                            F.struct("pos", "line")))).alias("_ls")))


def _finish(assembled: DataFrame, line_sep: str) -> DataFrame:
    """``_assemble`` output → ``(doc_id, text, n_lines, n_kept,
    n_removed)``; docs that lost everything get empty text."""
    n_kept = F.size("_ls").cast("long")
    return assembled.select(
        "doc_id",
        F.array_join(F.transform("_ls", lambda s: s["line"]),
                     line_sep).alias("text"),
        "n_lines", n_kept.alias("n_kept"),
        (F.col("n_lines") - n_kept).alias("n_removed"))


def _rebuild(base: DataFrame, kept: DataFrame,
             line_sep: str) -> DataFrame:
    """Reassemble kept lines into documents (original order), with
    keep/remove counts; docs that lost everything get empty text.  The
    document rows and the kept lines meet in one ``groupBy(doc_id)``
    (no join back to the documents)."""
    docs = base.select("doc_id", F.size("lines").alias("n_lines"),
                       F.lit(None).cast("int").alias("pos"),
                       F.lit(None).cast("string").alias("line"))
    lines = kept.select("doc_id", F.lit(None).cast("int").alias("n_lines"),
                        "pos", "line")
    return _finish(_assemble(docs.unionByName(lines)), line_sep)


def _keep_first_within(occ: DataFrame) -> DataFrame:
    """Keep only the smallest (doc_id, pos) occurrence per line hash —
    one partial-agg ``min(struct(doc_id, pos, line))`` per hash
    (skew-safe), with no join back: exactly one ``(lh, doc_id, pos,
    line)`` row per hash, also when a batch repeats a doc id."""
    return (occ.groupBy("lh")
            .agg(F.min(F.struct("doc_id", "pos", "line")).alias("m"))
            .select("lh", "m.doc_id", "m.pos", "m.line"))


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


def write_line_index(df: DataFrame, path: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     line_sep: str = "\n") -> None:
    """Persist the corpus's distinct line hashes WITH THEIR OWNERS as
    plain parquet files — the stored side of CCNet's
    shard-against-history dedup (each shard is deduplicated against
    the hash set of everything already ingested; the history is never
    re-split or re-hashed).  One row per distinct line content:
    ``(lh, doc_id=owner)`` where the owner is the keep_first
    winner's document — the owner column is what makes the ingest loop
    REPLAY-SAFE: a re-delivered batch's docs own their kept lines, so
    they reproduce their original output instead of self-colliding
    (the NSW store's merge-on-read idempotency argument applied to
    lines; duplicate owner rows from replays are byte-identical and
    collapse under the read side's min() resolution).  Every probe
    scans the whole store, so no directory layout would be pruned.
    This is the store's base: ``ingest_lines_against_index`` grows it
    by segments (``stores`` module docstring).  The keep-first rule
    keeps one occurrence per ``lh``, so the rows need no distinct."""
    _, occ = _line_occurrences(df, text_col, id_col, line_sep)
    (_keep_first_within(occ).select("lh", "doc_id")
     .write.mode("overwrite").parquet(path))


def _admitted_docs(spark, batch: DataFrame, store: str, text_col: str,
                   id_col: str, line_sep: str,
                   one_task: bool = False) -> DataFrame:
    """Shared admission core: the batch's documents with their
    surviving lines (``_assemble`` output) after the store-owner rule
    and within-batch keep_first.

    Plan: the batch's line occurrences ``(lh, doc_id, pos)`` are
    broadcast and probe the stored index, so only the owner rows of
    THIS batch's lines leave the scan, each paired with the batch
    occurrence it matched (no store-wide aggregate or shuffle).  Those
    pairs, the occurrences and one row per document (under a
    ``#``-prefixed key no md5 hash can equal, so documents that lose
    every line still come out) meet in ONE batch-sized exchange by
    ``lh``, where a single aggregate resolves the minimum owner and
    keep_first together; one ``groupBy(doc_id)`` then rebuilds the
    documents.  ``one_task`` runs that reduce side — the per-``lh``
    aggregate and the rebuild — in a single task, which saves the
    rebuild's exchange (a Spark job) for a batch small enough that
    one task rebuilds it faster than a stage is scheduled; the scan,
    split, hashing and probe stay parallel either way."""
    base, occ = _line_occurrences(batch, text_col, id_col, line_sep)
    id_type = occ.schema["doc_id"].dataType.simpleString()
    owned = (read_layer(spark,
                        layer_paths(store,
                                    read_manifest(spark, store, SEGMENTS)),
                        f"lh string, doc_id {id_type}")
             .select("lh", F.col("doc_id").alias("owner"))
             .join(F.broadcast(occ.select("lh", "doc_id", "pos")), "lh"))
    docs = base.select(F.concat(F.lit("#"), F.col("doc_id").cast("string"))
                       .alias("lh"), "doc_id",
                       F.size("lines").alias("n_lines"))
    per_lh = (occ.unionByName(docs, allowMissingColumns=True)
              .unionByName(owned, allowMissingColumns=True)
              .groupBy("lh")
              .agg(F.min("owner").alias("o"),
                   F.min(F.when(F.col("owner").isNull(),
                                F.struct("doc_id", "pos", "line")))
                   .alias("a"),
                   F.min(F.when(F.col("doc_id") == F.col("owner"),
                                F.struct("doc_id", "pos"))).alias("b"),
                   F.sum("n_lines").alias("n_lines")))
    # an unowned line keeps its first batch occurrence; an owned one
    # only its minimum owner's first occurrence (the replay case), whose
    # text is a's: every occurrence of one lh has the same text
    kept = (F.when(F.col("o").isNull(), F.col("a"))
            .when(F.col("b.doc_id") == F.col("o"),
                  F.struct(F.col("b.doc_id").alias("doc_id"),
                           F.col("b.pos").alias("pos"),
                           F.col("a.line").alias("line"))))
    rows = (per_lh.select(kept.alias("k"), "n_lines")
            .filter(F.col("k").isNotNull())
            .select("k.doc_id", "n_lines", "k.pos", "k.line"))
    return _assemble(rows.coalesce(1) if one_task else rows)


def dedup_lines_against_index(spark, batch: DataFrame, store: str,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              line_sep: str = "\n") -> DataFrame:
    """Deduplicate an arriving batch's lines against a
    ``write_line_index`` store AND within the batch itself (CCNet shard
    semantics): a line drops if its content hash is owned by another
    document in the index, or if an earlier (doc_id, pos) occurrence
    exists in this batch.  A batch doc that OWNS a stored line keeps
    its first occurrence of it — that is the replay case (the doc's
    own earlier delivery wrote the owner row), and it reproduces
    the original output exactly.  Returns the rebuilt documents — the
    ``dedup_lines_across_docs`` output contract.  The history side
    contributes only the owner rows of the batch's own lines; the
    batch never re-reads, re-splits, or re-hashes earlier shards."""
    return _finish(_admitted_docs(spark, batch, store, text_col, id_col,
                                  line_sep), line_sep)


def ingest_lines_against_index(spark, batch: DataFrame, store: str,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               line_sep: str = "\n") -> DataFrame:
    """One admission round of the continuous line-dedup loop: dedup the
    batch against the store (and within itself), add the SURVIVING
    lines' ``(lh, owner)`` rows to the store as one segment
    (``stores.write_segment``), and return the rebuilt batch
    documents.  The rebuilt documents, with their kept lines, are an
    eager ``localCheckpoint``: computed once, they feed both the
    segment, written from them with no exchange, and the returned
    frame — the admitted lines are never re-split.  A round killed
    before its manifest swap leaves the store as it was.
    IDEMPOTENT under at-least-once replay: a re-delivered batch's docs
    own their kept lines in the store, so the dedup reproduces the
    original output and the new segment re-writes byte-identical owner
    rows (min-resolved at read).  Concatenating each batch's output
    equals the one-shot ``keep_first`` rule ordered by (batch, doc_id,
    pos).  The reduce side of the round (the per-line-hash verdict and
    the rebuild) runs as one task: see ``_admitted_docs``."""
    docs = (_admitted_docs(spark, batch, store, text_col, id_col,
                           line_sep, one_task=True)
            .localCheckpoint(eager=True))
    write_segment(spark, store, SEGMENTS,
                  read_manifest(spark, store, SEGMENTS),
                  {"": docs.select("doc_id", F.explode("_ls").alias("k"))
                   .select(F.md5("k.line").alias("lh"), "doc_id")})
    return _finish(docs, line_sep)


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
