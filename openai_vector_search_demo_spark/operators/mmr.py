"""Maximal Marginal Relevance (MMR) diversified retrieval — Carbonell &
Goldstein 1998 (SIGIR, public): rerank a candidate pool so results are
relevant to the query but not redundant with each other,

    MMR(d) = λ·sim(q, d) − (1−λ)·max_{s ∈ S} sim(d, s)

selected greedily k times (first pick is pure relevance — S is empty).

Plain KNN returns near-duplicates when the corpus has them (and a
deduplicated training corpus is exactly where the near-dups that remain
are the interesting ones); MMR is the standard retrieval-side fix.

Plan shape (r15): the candidate POOL comes from the distributed KNN
(``operators.knn.knn`` — TakeOrderedAndProject over the corpus, the
scale-bearing stage); the pool is BOUNDED (``fetch_k`` rows) by
construction, so its full pairwise similarity matrix is fetch_k²
scalars — ONE cross-join job computes every pair with the same cosine
expression the greedy rounds consume (bit-identical doubles), and the
k-round greedy argmax then runs driver-side over that KB-class state
(the ``beam_search_knn`` bounded-collect pattern).  This replaces the
r12 shape — k chained crossJoin + groupBy-shuffle + eager
``localCheckpoint`` plan rounds (2 jobs + 1 shuffle per selection) —
with 2 bounded jobs total; the sequential dependency inherent to
greedy MMR costs Python loop iterations instead of scheduler
round-trips.  Selection order is unchanged: the driver loop applies
exactly Spark's (score DESC NULLS LAST, id ASC) total order (NaN above
+Inf) to Spark-computed doubles, and the MMR combine ``λ·rel −
(1−λ)·ms`` is the same IEEE arithmetic the in-plan column expressed.
``candidates`` SHOULD be persisted by the caller when it is not a
trivial scan — the two jobs re-evaluate it otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.functions.vectors import (
    cosine_similarity,
)
from openai_vector_search_demo_spark.stores import local_frame

__all__ = ["MMR_MAX_POOL", "mmr_select"]

MMR_MAX_POOL = 4096
"""Hard cap on the candidate pool (ADVICE r15): the greedy loop and
the pairwise cross-join are pool² driver-side work — a caller handing
an unbounded relation must fail loudly BEFORE the k² collect, not OOM
the driver during it.  Real pools are fetch_k ≤ tens of rows; the cap
is two orders above that."""


def mmr_select(candidates: DataFrame, k: int, lam: float = 0.5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               rel_col: str = "rel") -> DataFrame:
    """Greedy MMR over a scored candidate pool.

    ``candidates`` must carry ``id_col``, ``vec_col`` and ``rel_col``
    (= sim(q, d), typically from ``knn``).  Returns
    ``(rank, <id_col>, <rel_col>)`` — ``rank`` is selection order.
    Deterministic: every argmax tie-breaks on the id.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")

    import math

    from pyspark.sql.types import IntegerType, StructField, StructType

    cand = candidates.select(F.col(id_col).alias("id"),
                             F.col(vec_col).alias("v"),
                             F.col(rel_col).alias("rel"))

    # job 1: (id, rel) of the bounded pool
    pool = cand.select("id", "rel").collect()
    if len(pool) > MMR_MAX_POOL:
        raise ValueError(
            f"mmr_select pool has {len(pool)} rows > MMR_MAX_POOL="
            f"{MMR_MAX_POOL}; MMR is a RERANKER — bound the pool "
            "(fetch_k) upstream")
    pids = [r.id for r in pool]
    if any(i is None for i in pids):
        raise ValueError("mmr_select requires non-null candidate ids "
                         "(the id is every argmax's tie-break)")
    if len(set(pids)) != len(pids):
        raise ValueError("mmr_select requires unique candidate ids "
                         "(duplicates make the greedy argmax "
                         "ill-defined)")
    # job 2: the pool's pairwise cosines, Spark-computed — the SAME
    # scalar expression per pair the per-round plan evaluated, so every
    # double the greedy loop compares is bit-identical to the old shape
    a = cand.select(F.col("id").alias("ia"), F.col("v").alias("va"))
    b = cand.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
    sim_rows = (a.crossJoin(b).filter(F.col("ia") != F.col("ib"))
                .select("ia", "ib",
                        cosine_similarity("va", "vb").alias("s"))
                .collect())
    sims: dict[tuple, float] = {(r.ia, r.ib): r.s for r in sim_rows}

    def dkey(x):
        """Spark's (x DESC NULLS LAST) as an ascending sort key:
        NaN > +Inf > … > −Inf > NULL."""
        if x is None:
            return (2, 0.0)
        if isinstance(x, float) and math.isnan(x):
            return (0, 0.0)
        return (1, -x)

    rels = {r.id: r.rel for r in pool}
    remaining = sorted(rels)          # id ASC is every round's tie-break
    selected: list = []               # ids in selection order
    for _ in range(min(k, len(remaining))):
        if not selected:
            best = min(remaining, key=lambda i: (dkey(rels[i]), i))
        else:
            def mmr_of(i):
                ss = [sims.get((i, s)) for s in selected]
                ss = [x for x in ss if x is not None]
                ms = (min(ss, key=dkey) if ss else None)  # max by DESC key
                rel = rels[i]
                if rel is None or ms is None:
                    return None       # null propagates, sorts last
                # same IEEE double ops, same order, as the in-plan
                # column lam*rel - (1-lam)*ms
                return lam * rel - (1.0 - lam) * ms
            best = min(remaining, key=lambda i: (dkey(mmr_of(i)), i))
        selected.append(best)
        remaining.remove(best)

    fields = {f.name: f for f in cand.schema.fields}
    schema = StructType([
        StructField("rank", IntegerType(), False),
        StructField(id_col, fields["id"].dataType, fields["id"].nullable),
        StructField(rel_col, fields["rel"].dataType,
                    fields["rel"].nullable)])
    return local_frame(
        candidates.sparkSession,
        [(r, i, rels[i]) for r, i in enumerate(selected, start=1)],
        schema)
