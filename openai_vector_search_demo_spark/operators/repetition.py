"""Intra-document repetition signals — the Gopher repetition filters
(Rae et al. 2021 §A1.1 Table A1, public method description only).

The curation family's other half: `gopher_quality_rules` gates on
quality HEURISTICS (word counts, alphabetic fraction, stop words);
these gate on REPETITION — machine-generated and boilerplate text
repeats itself, and the paper removes documents whose

- most frequent n-gram covers too many characters
  (``top_{n}gram_char_frac`` > threshold, n = 2..4), or
- duplicated n-grams (count ≥ 2) cover too many characters
  (``dup_{n}gram_char_frac`` > threshold, n = 5..10).  "Coverage"
  counts the occurrences BEYOND the first — (count − 1) × length —
  matching the public reference reproductions of the rules (a fully
  once-duplicated document scores 0.5, not 1.0), so the published
  thresholds remove what the paper's rule removes.

- duplicated LINES cover too many of the lines or characters
  (``dup_line_frac`` > 0.30 / ``dup_line_char_frac`` > 0.20 —
  ``line_repetition_signals``; the paragraph rules are the same
  computation with a paragraph separator).  The test fixture is
  single-line, so the registered slot derives a deterministic line
  structure from the token stream (both engines replay the same
  derivation) — on real corpora pass the raw text.

Scale: repetition signals are DOCUMENT-LOCAL, so they are computed
entirely inside each row — ``array_sort`` the doc's n-grams, then one
``F.aggregate`` run-length walk over the sorted array (equal
neighbours = repeat occurrences) — a map-only plan with ZERO shuffle.
The n-gram stream is ~Σn × corpus bytes (n = 2..10 ⇒ ~9×); the
earlier explode → ``groupBy(doc, n, gram)`` design shuffled all of it,
which at 100 TB is a ~900 TB shuffle for values every executor
already held locally.  No UDF anywhere; the sort/walk are JVM
built-ins, and the whole thing replays in ANSI SQL for the DuckDB
correctness gate (the oracle keeps the declarative GROUP BY form —
the gate compares values, not plans).

Char fractions are defined deterministically: the TOP fraction is the
most frequent n-gram's full coverage (``count × length(gram as
written, single-space joined)``); DUP fractions count repeats beyond
the first (``(count − 1) × length``); both over ``length(raw text)``,
clamped to 1.0 (overlapping occurrences can still push the naive sum
past the document length).  Fractions are rounded to 6 dp BEFORE
threshold comparison so pass/fail replays bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.functions.text_analysis import tokens

__all__ = ["ngram_repetition_signals", "line_repetition_signals",
           "GOPHER_REP_THRESHOLDS"]

# Table A1's published thresholds (fail when the fraction EXCEEDS):
GOPHER_REP_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def _ngrams(toks: str, n: int) -> str:
    """SQL: the single-space-joined token n-grams of array column
    ``toks``, [] when the doc is shorter."""
    return (f"CASE WHEN size({toks}) >= {n} "
            f"THEN transform(sequence(1, size({toks}) - {n - 1}), "
            f"i -> array_join(slice({toks}, i, {n}), ' ')) "
            f"ELSE cast(array() AS array<string>) END")


def _rep_walk(arr: str) -> str:
    """SQL: one ``aggregate`` run-length walk over the SORTED array
    column ``arr``: equal neighbours are repeat occurrences.  Returns
    ``struct(top: bigint, dup: bigint)`` — the most-frequent element's
    full coverage (count × length; ties by coverage — a long rare
    element must not outscore a short frequent one, so the comparison
    is lexicographic on (count, coverage), the paper's rule) and the
    repeat-beyond-the-first character total.  Zero shuffle: the walk
    happens inside the owning row.  Only for a non-empty ``arr`` (the
    finish step reads its last element)."""
    # i is a 0-based position; element_at is 1-based, so
    # prev = arr[i-1] (0-based) = element_at(arr, i)
    prev, cur = f"element_at({arr}, i)", f"element_at({arr}, i + 1)"
    last = f"element_at({arr}, size({arr}))"

    def better(cost):
        return (f"(acc.run > acc.topc OR "
                f"(acc.run = acc.topc AND {cost} > acc.topcost))")

    cost = f"acc.run * length({prev})"
    last_cost = f"acc.run * length({last})"
    return (
        f"aggregate("
        f"CASE WHEN size({arr}) >= 2 THEN sequence(1, size({arr}) - 1) "
        f"ELSE cast(array() AS array<int>) END, "
        f"named_struct('run', 1L, 'topc', 0L, 'topcost', 0L, 'dup', 0L), "
        f"(acc, i) -> CASE WHEN {cur} = {prev} "
        f"THEN named_struct('run', acc.run + 1, 'topc', acc.topc, "
        f"'topcost', acc.topcost, 'dup', acc.dup + length({cur})) "
        f"ELSE named_struct('run', 1L, "
        f"'topc', CASE WHEN {better(cost)} THEN acc.run ELSE acc.topc END, "
        f"'topcost', CASE WHEN {better(cost)} THEN {cost} "
        f"ELSE acc.topcost END, 'dup', acc.dup) END, "
        f"acc -> named_struct("
        f"'top', CASE WHEN {better(last_cost)} THEN {last_cost} "
        f"ELSE acc.topcost END, 'dup', acc.dup))")


def ngram_repetition_signals(df: DataFrame,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             ns: tuple[int, ...] = (2, 3, 4, 5)
                             ) -> DataFrame:
    """Long-form per-document repetition signals: one row per
    ``(doc_id, n)`` with ``top_char_frac`` (most frequent n-gram's
    character coverage) and ``dup_char_frac`` (repeat occurrences —
    beyond the first — of all n-grams occurring ≥ 2 times), both 6-dp
    rounded.  Documents shorter than
    ``n`` tokens emit no row for that n — absent means "cannot repeat",
    which every consumer must coalesce to 0 (the slot does).

    Physical shape: map-only.  Each n's grams are sorted ONCE per
    document (the explode is a Generate barrier, so the walk's many
    ``element_at`` references hit a BOUND attribute — inlining the sort
    into the walk would re-sort per element, quadratic), then
    run-length walked INSIDE the row (``_rep_walk``); the exploded rows
    are ≤ len(ns) per document and nothing gram-sized ever shuffles.

    The plan is built from SQL text, one ``selectExpr`` per step: each
    step is one call into the JVM, where composing the same
    expressions from ``Column`` objects costs thousands."""
    per_n = ", ".join(
        f"named_struct('n', {n}, 'arr', array_sort({_ngrams('toks', n)}))"
        for n in ns)
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.length(text_col).alias("n_chars"),
                      tokens(text_col).alias("toks"))
            .selectExpr("doc_id", "n_chars",
                        f"explode(filter(array({per_n}), "
                        f"s -> size(s.arr) >= 1)) AS s")
            .selectExpr("doc_id", "n_chars", "s.n AS n", "s.arr AS arr")
            .selectExpr("doc_id", "n_chars", "n",
                        f"{_rep_walk('arr')} AS _w")
            .selectExpr(
                "doc_id", "n",
                "round(least(1.0D, _w.top / n_chars), 6) AS top_char_frac",
                "round(least(1.0D, _w.dup / n_chars), 6) "
                "AS dup_char_frac"))


def line_repetition_signals(df: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            line_sep: str = "\n") -> DataFrame:
    """The Gopher duplicate-LINE rules (Rae et al. 2021 Table A1): per
    document, ``dup_line_frac`` = fraction of lines that are REPEATS of
    an earlier identical line (occurrences beyond the first — the
    reference-reproduction counting; a fully once-duplicated doc scores
    0.5), ``dup_line_char_frac`` = those repeat lines' characters over
    the document's characters.  Lines cannot overlap, so no clamp is
    needed; both fractions 6-dp-rounded.  Documents with no non-empty
    line emit no row (nothing to gate).  Same physical shape as the
    n-gram form: MAP-ONLY — the doc's lines are sorted and
    neighbour-compared inside the row, zero shuffle, no UDF,
    ANSI-replayable.  ``line_sep`` is a literal separator
    (regex-escaped before the split)."""
    import re
    lines = F.filter(F.split(F.col(text_col), re.escape(line_sep)),
                     lambda x: x != "")
    base = (df.select(F.col(id_col).alias("doc_id"),
                      F.length(text_col).alias("n_chars"),
                      F.array_sort(lines).alias("lines"))
            .filter(F.size("lines") > 0)
            .withColumn("n_lines", F.size("lines")))
    # in the sorted array an element equal to its predecessor IS a
    # repeat beyond the first occurrence — one aggregate walk per doc
    arr = F.col("lines")
    idx = F.when(F.col("n_lines") >= 2,
                 F.sequence(F.lit(1), F.col("n_lines") - 1)) \
           .otherwise(F.array().cast("array<int>"))
    zero = F.struct(F.lit(0).cast("long").alias("dl"),
                    F.lit(0).cast("long").alias("dc"))

    def merge(acc, i):
        same = F.element_at(arr, i + 1) == F.element_at(arr, i)
        return F.struct(
            (acc["dl"] + F.when(same, 1).otherwise(0)).alias("dl"),
            (acc["dc"] + F.when(same,
                                F.length(F.element_at(arr, i + 1)))
             .otherwise(0)).alias("dc"))

    walk = F.aggregate(idx, zero, merge)
    return (base.select("doc_id", "n_chars", "n_lines",
                        walk.alias("_w"))
            .select(
                "doc_id",
                F.round(F.col("_w.dl") / F.col("n_lines"), 6)
                .alias("dup_line_frac"),
                F.round(F.col("_w.dc") / F.col("n_chars"), 6)
                .alias("dup_line_char_frac")))
