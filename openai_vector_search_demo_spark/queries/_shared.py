"""The engine's query registry — the correctness gate surface.

Every implemented operator from SURVEY.md §2 (plus the M6 scale extensions)
ships here as a named query: a Spark callable ``(spark, sf_dir) -> DataFrame``
in ``SPARK_QUERIES`` and, when SQL-expressible, a DuckDB oracle string in
``ORACLE_SQL`` computing the identical result on the same parquet tables.

Parity conventions (FIXTURES.md):
- identical column aliases on both sides (the driver sorts columns by name);
- floats rounded on both sides — 6 dp for bounded values (similarities,
  ratios, averages), 2 dp for large money sums where cross-engine summation
  order costs ~1e-8 absolute;
- all vector math in float64 on both sides (DuckDB's native
  list_cosine_similarity is fp32 — NOT used in oracles);
- deterministic tie-breaks whenever the operator under test is a sort/top-k.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.caching import scoped_persist
from openai_vector_search_demo_spark.stores import (
    open_or_build,
    read_probed_partitions,
)
from openai_vector_search_demo_spark.config import (
    HIGHLIGHT_PREFIX,
    HIGHLIGHT_SUFFIX,
    KEYWORD_STOPWORDS,
)

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


_CTE_HEADER_RE = re.compile(r"(\w+)(\s*\([\w\s,]*\))?(\s+AS\s+)\(",
                            re.IGNORECASE)
_WITH_RE = re.compile(r"WITH\b(\s+RECURSIVE\b)?", re.IGNORECASE)


def _materialize_ctes(sql: str) -> str:
    """Force every CTE in an oracle MATERIALIZED.  DuckDB inlines a CTE
    per reference by default; oracles that reference a predecessor more
    than once (iterative unrolled chains: each round joins the previous
    round AND reads its normalization scalar; batteries: shared token /
    shingle CTEs across members) re-evaluate the whole upstream chain
    per reference — measured 2^pulls blowups (HITS 7.1 s → 0.04 s,
    kmeans 2.0 → 0.05 s, dedup_battery 3.8 → 0.35 s at sf0.01, values
    identical — the full plain-vs-materialized value-equality sweep ran
    over every window oracle before this landed).

    The rewrite is ANCHORED to true CTE-header positions (ADVICE r11):
    a character scan skips string literals, quoted identifiers, and
    comments, tracks paren depth, and annotates ``name [(cols)] AS (``
    only where the grammar allows a CTE header — immediately after a
    ``WITH`` or after a list-level comma that follows a closed CTE
    body.  Consequences the old whole-string regex got wrong: a
    ``'… AS ('`` inside a string literal is untouched; the word
    RECURSIVE in a literal or comment no longer disables the transform
    for the whole statement (only a real ``WITH RECURSIVE`` list is
    left plain, where MATERIALIZED is invalid); named-WINDOW clauses
    (``WINDOW w AS (…)``) sit outside any CTE-list position and need
    no special-case guard; nested WITHs inside CTE bodies or subqueries
    are annotated independently."""
    out: list[str] = []
    i, n = 0, len(sql)
    depth = 0
    # stack of open CTE lists: [depth, recursive, armed]; armed means the
    # next `name AS (` at this depth is a header (right after WITH / ,)
    lists: list[list] = []

    def word_start(k: int) -> bool:
        return k == 0 or not (sql[k - 1].isalnum() or sql[k - 1] == "_")

    while i < n:
        c = sql[i]
        if c == "'":  # string literal ('' escapes)
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
            continue
        if c == '"':  # quoted identifier
            j = sql.find('"', i + 1)
            j = n - 1 if j == -1 else j
            out.append(sql[i:j + 1])
            i = j + 1
            continue
        if c == "-" and sql[i:i + 2] == "--":
            j = sql.find("\n", i)
            j = n if j == -1 else j
            out.append(sql[i:j])
            i = j
            continue
        if c == "/" and sql[i:i + 2] == "/*":
            j = sql.find("*/", i + 2)
            j = n - 2 if j == -1 else j
            out.append(sql[i:j + 2])
            i = j + 2
            continue
        if c == "(":
            depth += 1
            out.append(c)
            i += 1
            continue
        if c == ")":
            depth -= 1
            out.append(c)
            i += 1
            if lists and depth == lists[-1][0]:
                # a CTE body just closed back to its list depth: a comma
                # continues the list, anything else ends it
                k = i
                while k < n and sql[k].isspace():
                    k += 1
                if k < n and sql[k] == ",":
                    lists[-1][2] = True
                else:
                    lists.pop()
            continue
        if c in "Ww" and word_start(i):
            m = _WITH_RE.match(sql, i)
            if m:
                lists.append([depth, bool(m.group(1)), True])
                out.append(m.group(0))
                i = m.end()
                continue
        if (lists and lists[-1][2] and depth == lists[-1][0]
                and (c.isalpha() or c == "_") and word_start(i)):
            m = _CTE_HEADER_RE.match(sql, i)
            if m:
                lists[-1][2] = False
                if lists[-1][1]:  # RECURSIVE list: leave plain
                    out.append(m.group(0))
                else:
                    out.append(f"{m.group(1)}{m.group(2) or ''}"
                               f"{m.group(3)}MATERIALIZED (")
                depth += 1  # the header's '(' was consumed
                i = m.end()
                continue
        out.append(c)
        i += 1
    return "".join(out)


RAW_ORACLE_SQL: dict[str, str] = {}  # pre-transform, for transform tests


def query(name: str, oracle: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            RAW_ORACLE_SQL[name] = oracle
            ORACLE_SQL[name] = _materialize_ctes(oracle)
        return fn
    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def run_concurrent(thunks):
    """Run independent driver-side query thunks CONCURRENTLY (one Python
    thread each — Spark's scheduler interleaves their jobs across the
    cluster; results are deterministic because each thunk is).  The
    curve slots use this: N independent serving points cost max(point)
    wall-clock instead of sum(point) — exactly how a real serving tier
    overlaps scheduler round-trips at any scale.  The threads are
    ``InheritableThread``s, so their jobs carry the caller's job group,
    description and other local properties.  Exceptions propagate to
    the caller; results return in thunk order."""
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list = [None] * len(thunks)

    def runner(i, fn):
        try:
            results[i] = fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors[i] = exc

    threads = [InheritableThread(runner, args=(i, fn))
               for i, fn in enumerate(thunks)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results


def _read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read `events.parquet` whatever its physical `ts` encoding.

    The fixture's encoding is not under this repo's control and has already
    changed once (TIMESTAMP(NANOS) → timestamp[us]).  A plain read handles
    every self-describing encoding; only the legacy NANOS case needs the
    `nanosAsLong` escape hatch (Spark 4 refuses NANOS outright), so that
    conf is applied solely on the retry path and never leaks.
    """
    path = f"{sf_dir}/events.parquet"
    try:
        return spark.read.parquet(path)
    except Exception:
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            # consulted at analysis time only (schema resolution); the
            # returned plan executes fine after the conf is restored
            return spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def _events_ts_us(df: DataFrame) -> F.Column:
    """Epoch-microseconds expression for `ts`, branching on the dtype the
    read actually produced — never on an assumed physical encoding.

    Oracle contract: DuckDB's `epoch_us(ts)` treats a naive timestamp as
    UTC, so the NTZ branch must too, independent of Spark's session
    timezone (`unix_micros(cast(ntz as timestamp))` shifts by the session
    offset; NTZ-to-NTZ `timestampdiff` is pure arithmetic and does not).
    """
    dt = dict(df.dtypes)["ts"]
    if dt == "bigint":  # legacy nanos-as-long; integer div, not `/`
        return F.expr("ts div 1000")
    if dt == "timestamp_ntz":
        return F.expr(
            "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)")
    if dt == "timestamp":
        return F.unix_micros(F.col("ts"))
    raise TypeError(f"events.ts has unsupported dtype {dt!r}")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table with two derived columns, stable across fixture
    re-encodings:

    - ``ts_us``  bigint epoch microseconds — the oracle-parity column
      (matches DuckDB `epoch_us(ts)` on the same parquet);
    - ``ts``     a session-tz TIMESTAMP (micros) for window/streaming ops.
    """
    raw = _read_events_raw(spark, sf_dir)
    ts_us = _events_ts_us(raw)
    return (raw.withColumn("ts_us", ts_us)
            .withColumn("ts", F.timestamp_micros(F.col("ts_us"))))


def _sql_stoplist() -> str:
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in KEYWORD_STOPWORDS) + "]"


# ---------------------------------------------------------------------------



def split_doc_scan(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Map-only slots' parallelism is the SCAN's: a 100 TB corpus
    arrives in thousands of file splits, but a single-file local
    fixture is one partition → one core.  When (and only when) the
    scan yields fewer splits than the cluster has slots, pay one 1×
    corpus repartition to spread the per-doc work; on a real
    multi-file corpus this is a no-op."""
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        return docs.repartition(par)
    return docs



DERIVED_LINE_W = 3  # tokens per derived line: the single-line-fixture
#                     contract shared by every line-unit slot


def derived_token_lines(docs: DataFrame, w: int = DERIVED_LINE_W) -> DataFrame:
    """``(doc_id, text)`` with text = the doc's tokens re-joined as
    w-token lines — the deterministic line structure the line-unit
    slots (gopher_line_repetition_rules, ccnet_line_dedup*,
    streaming_line_dedup_ingest, bloom_line_dedup) derive IDENTICALLY
    in both engines because the fixture's documents are single-line;
    on real corpora the operators take the raw text's own newlines.
    The SQL twin is ``text_analysis._sql_derived_lines(w)``."""
    from openai_vector_search_demo_spark.functions.text_analysis import (
        tokens,
    )
    wl = F.lit(w)
    base = (docs.select("doc_id", tokens("text").alias("_toks"))
            .filter(F.size("_toks") > 0))
    lines = F.transform(
        F.sequence(F.lit(0),
                   F.ceil(F.size("_toks") / wl.cast("double"))
                   .cast("int") - 1),
        lambda i: F.array_join(F.slice(F.col("_toks"), i * wl + 1, w),
                               " "))
    return base.select("doc_id",
                       F.array_join(lines, "\n").alias("text"))


__all__ = [
    "run_concurrent",
    "os",
    "re",
    "Callable",
    "DataFrame",
    "SparkSession",
    "F",
    "scoped_persist",
    "open_or_build",
    "read_probed_partitions",
    "HIGHLIGHT_PREFIX",
    "HIGHLIGHT_SUFFIX",
    "KEYWORD_STOPWORDS",
    "SPARK_QUERIES",
    "ORACLE_SQL",
    "_CTE_HEADER_RE",
    "_WITH_RE",
    "_materialize_ctes",
    "RAW_ORACLE_SQL",
    "query",
    "t",
    "split_doc_scan",
    "derived_token_lines",
    "DERIVED_LINE_W",
    "_read_events_raw",
    "_events_ts_us",
    "load_events",
    "_sql_stoplist",
]
