"""Late-interaction (multi-vector / ColBERT-style MaxSim) retrieval.

Single-vector retrieval (Q2's cosine KNN over one embedding per chunk —
the reference's model, modules/utilities.py) collapses a document to one
point before the query arrives; late interaction keeps one vector PER
TOKEN POSITION and scores

    score(q, d) = Σ_i  max_j  cos(q_i, d_j)

— each query token finds its best-matching document token (Khattab &
Zaharia, ColBERT, SIGIR 2020).  The standard engines serve this from a
dense per-token vector store; the Spark-first realization here keeps the
whole computation RELATIONAL by exploiting that the engine's
deterministic embedder (``embedding/embedder.HashNgramEmbedder``:
md5-60bit feature hashing, the flagship pipeline's oracle-checkable E1
slot) produces SPARSE vectors — a (2·window+1)-token context window
embeds to at most 2·window+1 non-zero buckets.  So:

- a "token vector" is a handful of ``(bucket, weight)`` rows, derived
  with codegen expressions (tokenize → posexplode → ±window explode →
  two map-side-combinable aggregates);
- ``cos(q_i, d_j)`` is an equi-join on ``bucket`` (unit vectors: the dot
  IS the cosine) — and since the query side is ~tens of rows it
  BROADCASTS, so the corpus never shuffles to compute all pairwise dots;
- ``max_j`` / ``Σ_i`` are ordinary aggregates keyed by (doc, position),
  map-side combinable;
- top-k is the ``TakeOrderedAndProject`` contract shared with Q2.

Every step is bit-reproducible in DuckDB SQL (md5-60bit hashing on both
sides — `queries.late_interaction_topk` carries the mirrored oracle), so
this approximate-free operator is value-checked end to end, unlike
typical ANN-backed ColBERT servings.

The zero-overlap subtlety, handled exactly: ``max_j`` ranges over ALL
document positions, and a (q_i, d_j) pair with disjoint buckets has
cos = 0 — but the bucket join only materializes OVERLAPPING pairs.  A
query position whose best overlapping cosine is negative must still
score 0 if the document has at least one position that did not join
(the true max is then 0, from any disjoint OR fully-sign-cancelled
pair — a cancelled position is the zero vector, cosine 0 with
everything).  The operator counts the document's positions
PRE-cancellation (``min(n_tokens, max_tokens)`` — one cheap codegen
expression over the source text, no feature scan) and floors the max
at 0 unless the joined pairs cover every one of them.

Scale shape: doc features are ≤ (2w+1)·max_tokens rows per document
(linear, map-derived); the only wide relation ever shuffled is the
per-(doc, dpos, qpos) dot table, bounded by |doc features| × |query
positions| — and since the query side is broadcast the join itself is
shuffle-free; the aggregates shuffle on (doc, position) keys.  No dense
math, no UDFs, no driver-side loops.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.functions.text_analysis import (
    _hash60,
    tokens,
)
from openai_vector_search_demo_spark.stores import local_frame

__all__ = ["token_window_features", "late_interaction_topk",
           "query_window_features", "write_token_window_index",
           "late_interaction_stored_topk"]


def token_window_features(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", max_tokens: int = 64,
                          window: int = 1, dim: int = 64) -> DataFrame:
    """Sparse per-position context vectors: ``(id, pos, bucket, w)``.

    Position ``pos`` (0-based, first ``max_tokens`` tokens — the ColBERT
    doc-truncation convention) embeds the token multiset in
    ``[pos-window, pos+window]`` (clamped to the document): each token
    hashes to ``bucket = h60 % dim`` with ``sign = ±1`` from bit 59
    (exactly ``HashNgramEmbedder``'s feature map), signs accumulate per
    bucket, and the vector L2-normalizes.  Sign-cancelled buckets drop;
    fully-cancelled positions vanish from the feature relation (they
    contribute cosine 0 to every query token, which the scorer's
    zero-floor encodes — its position count is taken pre-cancellation
    from the source text, so a vanished position still triggers it).

    Derivation is pure codegen + two map-side-combinable aggregates:
    posexplode over the truncated token array, a ±window explode of each
    token's target positions, ``SUM(sign)`` per (id, pos, bucket), and a
    norm aggregate joined back — the corpus text itself never shuffles,
    only (id, pos, bucket, sign) feature rows do.

    The feature rows are hash-repartitioned by ``id`` ONCE, right here:
    every downstream key set in the whole MaxSim pipeline — (id, pos),
    (id, pos, qpos), (id, qpos), (id) — contains ``id``, and
    ``HashPartitioning(id)`` satisfies every ClusteredDistribution over
    a superset of its expressions, so Catalyst elides every later
    exchange (measured: 3.86 → 1.81 s at sf0.1, 19.9 → 9.0 s at the
    sf1-scaled fixture).  Per-id row volume is bounded by
    ``(2w+1)·max_tokens`` features, so the forced co-location cannot
    skew."""
    toks = (df.select(F.col(id_col).alias("id"),
                      F.slice(tokens(text_col), 1, max_tokens).alias("tks"))
            .select("id", F.size("tks").alias("n"),
                    F.posexplode("tks").alias("tpos", "tk")))
    h = _hash60(F.col("tk"))
    sgn = F.when(F.shiftright(h, 59).bitwiseAND(F.lit(1)) == 0, F.lit(1.0)) \
           .otherwise(F.lit(-1.0))
    feat = toks.select("id", "n", "tpos",
                       (h % dim).cast("int").alias("bucket"),
                       sgn.alias("sign"))
    # token at tpos contributes to every position in [tpos-w, tpos+w]∩[0,n)
    offsets = F.sequence(F.lit(-window), F.lit(window))
    spread = (feat.select(
        "id", "bucket", "sign",
        F.explode(offsets).alias("off"), "tpos", "n")
        .withColumn("pos", F.col("tpos") + F.col("off"))
        .filter((F.col("pos") >= 0) & (F.col("pos") < F.col("n")))
        .drop("off", "tpos", "n")
        .repartition(F.col("id")))
    s = (spread.groupBy("id", "pos", "bucket")
         .agg(F.sum("sign").alias("s"))
         .filter(F.col("s") != 0))
    norm = s.groupBy("id", "pos").agg(
        F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nrm"))
    return (s.join(norm, ["id", "pos"])
            .select("id", "pos", "bucket",
                    (F.col("s") / F.col("nrm")).alias("w")))


def query_window_features(query: str, max_tokens: int = 64,
                          window: int = 1,
                          dim: int = 64) -> list[tuple[int, int, float]]:
    """Driver-side twin of ``token_window_features`` for the (tiny) query:
    ``[(qpos, bucket, w)]`` — same md5-60bit feature map, same windowing,
    computed with hashlib so the query plan starts from literals.
    Tokenizes with the engine ``tokens()`` contract (ASCII ``\\s+``, the
    same set Java regex ``\\s`` matches) — NOT ``str.split()``, whose
    Unicode-whitespace splitting would tokenize a query containing
    U+00A0 etc. differently from identical document text."""
    tks = [t for t in re.split(r"\s+", query.lower(), flags=re.ASCII)
           if t][:max_tokens]
    n = len(tks)
    feats: dict[tuple[int, int], float] = {}
    for tpos, tk in enumerate(tks):
        h = int(hashlib.md5(tk.encode("utf-8")).hexdigest()[:15], 16)
        b, sgn = h % dim, (1.0 if (h >> 59) & 1 == 0 else -1.0)
        for pos in range(max(0, tpos - window), min(n, tpos + window + 1)):
            feats[(pos, b)] = feats.get((pos, b), 0.0) + sgn
    by_pos: dict[int, float] = {}
    for (pos, _b), sv in feats.items():
        by_pos[pos] = by_pos.get(pos, 0.0) + sv * sv
    out = []
    for (pos, b), sv in sorted(feats.items()):
        if sv != 0 and by_pos[pos] > 0:
            out.append((pos, b, sv / by_pos[pos] ** 0.5))
    return out


def late_interaction_topk(df: DataFrame, query: str, k: int = 10,
                          text_col: str = "text", id_col: str = "doc_id",
                          max_tokens: int = 64, window: int = 1,
                          dim: int = 64, score_col: str = "maxsim_score",
                          cache: bool = True) -> DataFrame:
    """MaxSim top-k: ``(id_col, score_col)`` for the ``k`` best documents,
    descending score, ties broken by ascending id (the Q2 sort contract).

    Documents whose features share no bucket with any query position
    score 0 and cannot enter the top-k (they are absent from the joined
    relation) — the same pruning-by-construction that makes the bucket
    join linear in corpus features rather than all-pairs.

    ``cache=True`` persists the feature relation (``scoped_persist`` —
    releasable via ``caching.cache_scope``): it feeds both the dot join
    and the per-doc position count, and at serving scale it is exactly
    the relation a write-time index would store (the ``lsh_assign``
    pattern: compute once, read partition-pruned)."""
    from openai_vector_search_demo_spark.caching import scoped_persist

    qfeats = query_window_features(query, max_tokens, window, dim)
    spark = df.sparkSession
    if not qfeats:
        return (df.select(F.col(id_col), F.lit(0.0).alias(score_col))
                .limit(0))
    qdf = local_frame(spark, qfeats, "qpos int, bucket int, wq double")
    dfeat = token_window_features(df, text_col, id_col,
                                  max_tokens, window, dim)
    if cache:
        dfeat = scoped_persist(dfeat)
    # doc positions per id, counted PRE-cancellation from the source text
    # (min(n_tokens, max_tokens)) — the zero-floor must fire when ANY
    # position failed to join, including fully-sign-cancelled positions
    # that vanished from the feature relation (see module docstring)
    dpos = _position_counts(df, text_col, id_col, max_tokens)
    return _maxsim_topk(dfeat, qdf, dpos, id_col, score_col, k)


def _position_counts(df: DataFrame, text_col: str, id_col: str,
                     max_tokens: int) -> DataFrame:
    """``(id, n_dpos)`` with ``n_dpos = min(n_tokens, max_tokens)`` — the
    document's position count before any sign cancellation, one codegen
    expression over the source text."""
    return (df.select(F.col(id_col).alias("id"),
                      F.least(F.size(tokens(text_col)),
                              F.lit(max_tokens)).alias("n_dpos"))
            .filter(F.col("n_dpos") > 0))


def _maxsim_topk(dfeat: DataFrame, qdf: DataFrame, dpos: DataFrame,
                 id_col: str, score_col: str, k: int) -> DataFrame:
    """Shared MaxSim scoring tail over a feature relation
    ``(id, pos, bucket, w)`` — used by both the inline operator and the
    stored-index read path, so the two are value-locked by construction."""
    dots = (dfeat.join(F.broadcast(qdf), "bucket")
            .groupBy("id", "pos", "qpos")
            .agg(F.sum(F.col("w") * F.col("wq")).alias("cos")))
    best = (dots.groupBy("id", "qpos")
            .agg(F.max("cos").alias("mx"),
                 F.countDistinct("pos").alias("n_hit")))
    adj = (best.join(dpos, "id")
           .select("id", "qpos",
                   F.when(F.col("n_hit") < F.col("n_dpos"),
                          F.greatest(F.col("mx"), F.lit(0.0)))
                   .otherwise(F.col("mx")).alias("msim")))
    scores = adj.groupBy("id").agg(
        F.round(F.sum("msim"), 6).alias(score_col))
    return (scores.select(F.col("id").alias(id_col), score_col)
            .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
            .limit(k))


def li_tenant_path(path: str, tenant) -> str:
    """A tenant's physical subtree inside a tenant-scoped token-window
    store (Hive-escaped value — the ``nsw_tenant_path`` contract).  The
    ``/idx`` leaf keeps the bucket directories AND the ``idx_meta``
    side table together INSIDE the tenant subtree."""
    from openai_vector_search_demo_spark.stores import (
        escape_partition_value,
    )
    return (f"{path.rstrip('/')}/tenant={escape_partition_value(tenant)}"
            "/idx")


_FEATURE_SCHEMA = "id long, pos int, w double, bucket int"
"""What ``write_token_window_index`` stores (``token_window_features``
with its partition column last): serving reads it without inference."""


def write_token_window_index(df: DataFrame, path: str,
                             text_col: str = "text", id_col: str = "doc_id",
                             max_tokens: int = 64, window: int = 1,
                             dim: int = 64,
                             tenant_col: str | None = None) -> None:
    """Write-time multi-vector index — the ``lsh_assign`` pattern for
    late interaction: the sparse feature relation persisted
    BUCKET-PARTITIONED (one directory per bucket; the ``repartition``
    puts each bucket in exactly one task/file), plus the per-doc
    position-count metadata at ``path + "_meta"``.

    The metadata exists because the zero-floor ranges over ALL of a
    document's positions — pre-cancellation, including those whose
    buckets a given query never probes and those that sign-cancelled
    entirely — so a partition-pruned read alone cannot reconstruct it.
    One tiny row per document (the same scale as any doc-store side
    table), joined on id at query time.

    With ``tenant_col`` the store is TENANT-SCOPED (the reference's
    per-alias physical isolation, the ``write_nsw_index_tenants``
    pattern): one ``tenant=T/idx`` subtree per tenant, each with its
    own buckets and position-count metadata built from that tenant's
    documents only — a tenant's serve never lists other tenants'
    directories, and cross-tenant score interference is structurally
    impossible."""
    if tenant_col is not None:
        from openai_vector_search_demo_spark.stores import tenant_values
        for tv in tenant_values(df, tenant_col):
            write_token_window_index(
                df.filter(F.col(tenant_col) == tv).drop(tenant_col),
                li_tenant_path(path, tv), text_col=text_col,
                id_col=id_col, max_tokens=max_tokens, window=window,
                dim=dim)
        return
    feats = token_window_features(df, text_col, id_col,
                                  max_tokens, window, dim)
    (feats.repartition(F.col("bucket"))
     .write.mode("overwrite").partitionBy("bucket").parquet(path))
    (_position_counts(df, text_col, id_col, max_tokens)
     .write.mode("overwrite").parquet(path + "_meta"))


def late_interaction_stored_topk(spark, store: str, query: str, k: int = 10,
                                 id_col: str = "doc_id",
                                 max_tokens: int = 64, window: int = 1,
                                 dim: int = 64,
                                 score_col: str = "maxsim_score",
                                 table: str | None = None,
                                 tenant=None) -> DataFrame:
    """MaxSim top-k over a ``write_token_window_index`` store: the scan
    reads ONLY the query's probe buckets — |query buckets| of ``dim``
    partitions, via ``stores.read_probed_partitions`` (catalog-backed
    partition pruning when the index is registered as ``table``; the
    driver-side basePath enumeration otherwise — see ``stores``).
    Identical scores to the inline operator: dots can only arise on
    shared buckets, so unprobed buckets contribute nothing by
    construction, and the zero-floor's full position counts come from
    the side metadata, not the pruned scan."""
    from openai_vector_search_demo_spark.stores import (
        read_probed_partitions,
    )

    if tenant is not None:
        # tenant-scoped store: descend into the tenant's subtree — its
        # own buckets AND metadata (structural isolation)
        store = li_tenant_path(store, tenant)
    qfeats = query_window_features(query, max_tokens, window, dim)
    if not qfeats:
        return (spark.read.parquet(store + "_meta")
                .select(F.col("id").alias(id_col),
                        F.lit(0.0).alias(score_col)).limit(0))
    qdf = local_frame(spark, qfeats, "qpos int, bucket int, wq double")
    probes = sorted({b for _, b, _ in qfeats})
    dfeat = (read_probed_partitions(spark, store, "bucket", probes,
                                    table=table, schema=_FEATURE_SCHEMA)
             .repartition(F.col("id")))
    dpos = spark.read.parquet(store + "_meta")
    return _maxsim_topk(dfeat, qdf, dpos, id_col, score_col, k)
