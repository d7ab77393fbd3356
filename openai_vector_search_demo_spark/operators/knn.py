"""Q2–Q5 — exact KNN top-k vector search, Spark-first.

The reference runs approximate HNSW cosine KNN inside redis-server
(`FT.SEARCH ... KNN`, modules/utilities.py:380-389) — the one place it pushes
compute to data.  Spark's equivalent of that pushdown is
``orderBy(sim.desc).limit(k)``: Catalyst plans it as ``TakeOrderedAndProject``
— a per-partition bounded heap plus a driver merge of k·P rows, no global
sort, no shuffle of the scored relation.  The query vector is broadcast by
value into the plan, so the whole search is one map stage over the chunks
table; at 100 TB it scales linearly with partitions and moves only k rows per
partition.

Two scoring paths behind one operator (SURVEY.md §4.3):

- ``method='sql'``  — higher-order-function cosine, whole-stage-codegen,
  DuckDB-oracle-comparable.  Default.
- ``method='numpy'`` — ``mapInPandas``: stack each Arrow batch's vectors into
  an (n, dim) float32 matrix and do one BLAS matvec.  For dim ≥ 1024 (the
  reference's real dims go to 12288) this beats the scalar loop by an order
  of magnitude; transfer cost is amortized by Arrow batches.

Approximate variants (LSH buckets) live in ``operators.ann``.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    vector_lit,
)


KNN_AUTO_NUMPY_MIN_DIM = 256
"""Crossover for ``method='auto'``: the r2 bench at sf0.1 measured the
codegen'd higher-order-function cosine vs the Arrow/BLAS matvec at dim 64
(0.376 s vs 0.316 s — a near-tie inside run noise) and dim 1024 (1.169 s vs
0.486 s — BLAS 2.4× ahead and widening with dim, SURVEY §4.3's prediction).
Below this width the SQL path is preferred: same speed class, but no Python
boundary, whole-stage codegen, and DuckDB-mirrorable.  At or above it —
production embedding dims run 1024–12288 (modules/utilities.py:420-475) —
the matvec wins decisively."""


def knn(df: DataFrame,
        query_vec: Sequence[float],
        k: int = 10,
        vec_col: str = "embedding",
        sim_col: str = "similarity",
        tie_break: str | None = None,
        method: str = "sql",
        metric: str = "cosine",
        pre_normalized: bool = False) -> DataFrame:
    """Exact top-k by cosine (or dot) similarity to ``query_vec``.

    Returns ``df``'s columns plus ``sim_col``, ordered sim desc (distance asc,
    Q3) limited to k (Q4).  ``tie_break`` adds a deterministic secondary key so
    results are reproducible across engines — the reference's HNSW ordering is
    its own tiebreak; ours must be explicit.

    ``method='auto'`` picks the scoring path by vector width (measured
    crossover, ``KNN_AUTO_NUMPY_MIN_DIM``): SQL codegen for narrow vectors,
    BLAS matvec for production-width ones.  Both paths are exact and return
    identical results — auto is a physical choice only.
    """
    if method == "auto":
        method = ("numpy" if len(list(query_vec)) >= KNN_AUTO_NUMPY_MIN_DIM
                  else "sql")
    if method == "numpy":
        scored = _score_numpy(df, query_vec, vec_col, sim_col, metric, pre_normalized)
    else:
        q = vector_lit(query_vec)
        if metric == "dot" or pre_normalized:
            sim = dot_product(F.col(vec_col), q)
        else:
            sim = cosine_similarity(F.col(vec_col), q)
        scored = df.withColumn(sim_col, sim)
    order = [F.col(sim_col).desc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    # orderBy+limit → TakeOrderedAndProject (top-k pushdown, SURVEY §4.1)
    return scored.orderBy(*order).limit(k)


def _score_numpy(df: DataFrame, query_vec: Sequence[float], vec_col: str,
                 sim_col: str, metric: str, pre_normalized: bool) -> DataFrame:
    """Vectorized scorer: one matvec per Arrow batch, float32 storage order."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    # fresh StructType — .add() would mutate the DataFrame's cached schema
    out_schema = StructType(list(df.schema.fields)
                            + [StructField(sim_col, DoubleType())])
    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = np.linalg.norm(q)
    cosine = metric == "cosine" and not pre_normalized

    def score(batches: Iterator) -> Iterator:
        for pdf in batches:
            if len(pdf) == 0:
                pdf[sim_col] = []
                yield pdf
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            dots = mat @ q
            if cosine:
                norms = np.linalg.norm(mat, axis=1)
                norms[norms == 0] = 1.0
                pdf[sim_col] = dots / (norms * qn)
            else:
                pdf[sim_col] = dots
            yield pdf

    return df.mapInPandas(score, out_schema)


def similarity_join(left: DataFrame, right: DataFrame,
                    k: int,
                    left_vec: str = "embedding", right_vec: str = "embedding",
                    left_id: str = "vec_id", right_id: str = "vec_id",
                    sim_col: str = "similarity") -> DataFrame:
    """Top-k similarity join: for every left row, its k nearest right rows.

    Generalizes Q2 from one query vector to a query *relation* (the reference
    only ever has a 1-row left side).  Plan: broadcast the smaller (left) side,
    cross-score, then a ``row_number`` window partitioned by left id — the
    cross product never materializes beyond each partition's stream.  For
    large×large use ``operators.ann`` LSH buckets instead.
    """
    from pyspark.sql import Window

    l = left.select(F.col(left_id).alias("_lid"), F.col(left_vec).alias("_lvec"))
    r = right.select(F.col(right_id).alias("_rid"), F.col(right_vec).alias("_rvec"))
    pairs = r.crossJoin(F.broadcast(l))
    scored = pairs.withColumn(sim_col, cosine_similarity("_lvec", "_rvec"))
    w = Window.partitionBy("_lid").orderBy(F.col(sim_col).desc(), F.col("_rid").asc())
    return (scored.withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") <= k)
            .select(F.col("_lid").alias(left_id + "_query"),
                    F.col("_rid").alias(right_id),
                    F.col("_rank").alias("rank"),
                    F.col(sim_col)))


def auto_knn_exact_max() -> int:
    """Corpus-size threshold below which the router serves EXACT KNN.

    The v4 graph beam's per-query work is bounded by
    ``NSW_ROUNDS · NSW_EF_SERVE · 2 · NSW_M`` score evaluations
    (``operators.nsw`` — the constant-ef law).  When the corpus itself
    is no larger than that budget, a single exact scan costs the same
    work class, needs no stored index, and returns recall 1.0 — so
    exact strictly dominates (the FAISS rule of thumb: serve flat
    below the index's own search budget).  Routing on this boundary is
    therefore a pure win at every n, never a recall trade.
    """
    from openai_vector_search_demo_spark.operators.nsw import (
        NSW_EF_SERVE,
        NSW_M,
        NSW_ROUNDS,
    )
    return NSW_ROUNDS * NSW_EF_SERVE * 2 * NSW_M


def auto_knn(df: DataFrame,
             query_vec: Sequence[float],
             k: int = 10,
             *,
             n: int | None = None,
             exact_max: int | None = None,
             vec_col: str = "embedding",
             id_col: str = "vec_id",
             sim_col: str = "similarity",
             store_path: str | None = None,
             nsw_kwargs: dict | None = None) -> tuple[str, DataFrame]:
    """ANN tier ROUTER — the planner step the reference performs by
    configuration (redis serves FLAT vs HNSW per index type;
    modules/utilities.py:272-278 always picks HNSW): route one query to
    the cheapest serving tier that meets the recall target, by corpus
    size.

    ``n <= exact_max`` (default ``auto_knn_exact_max()``): EXACT
    cosine top-k — one broadcast-scan map stage,
    ``TakeOrderedAndProject``, recall 1.0.  Larger corpora: the v4
    constant-ef NSW graph beam (``operators.nsw.nsw_knn``), whose work
    is independent of n.  Returns ``(tier, top-k DataFrame)`` with ONE
    schema regardless of tier — ``(id_col, label?, sim_col)``, id ties
    broken on ``id_col``, similarity 6-dp-rounded on both paths (the
    ANN-family determinism contract) — so behavior cannot silently
    change when a growing corpus crosses the routing threshold, and
    either branch replays in the DuckDB oracle.

    ``n`` (the routing statistic) is a required input when the caller
    already knows it — passing it avoids a count job; left ``None`` it
    is computed from ``df`` once.  ``nsw_kwargs`` forwards serving
    params (ef/rounds/stride/…) to the graph branch.

    ``store_path`` is the production graph branch: serve the STORED v4
    index at that path via ``nsw_stored_knn`` (bucket-pruned point
    reads — nobody builds an index per query; a fresh store serves the
    graph a rebuild would produce, so the oracle is unchanged).
    Without it the branch falls back to the inline build+search
    (``nsw_knn`` — the oracled development form).
    """
    if n is None:
        n = df.filter(F.col(vec_col).isNotNull()).count()
    if exact_max is None:
        exact_max = auto_knn_exact_max()
    # both tiers return the SAME schema — (id_col, label?, sim_col) —
    # and tie-break on id_col, so behavior cannot silently change at
    # the routing boundary when a growing corpus crosses the threshold.
    # 'label' rides along when present because the graph tier's beam
    # currently requires it (operators.nsw beam contract).
    out_cols = [id_col] + (["label"] if "label" in df.columns else [])
    if n <= exact_max:
        # round BEFORE the top-k ordering (the graph tier's rule): the
        # returned 6-dp values then really are tie-broken on id_col,
        # immune to cross-engine last-ulp noise at the k boundary;
        # still one map stage + TakeOrderedAndProject, now keyed on the
        # rounded value
        if len(list(query_vec)) >= KNN_AUTO_NUMPY_MIN_DIM:
            scored = _score_numpy(df, query_vec, vec_col, "_raw_sim",
                                  "cosine", False)
        else:
            scored = df.withColumn(
                "_raw_sim",
                cosine_similarity(F.col(vec_col), vector_lit(query_vec)))
        top = (scored.withColumn(sim_col, F.round("_raw_sim", 6))
               .orderBy(F.col(sim_col).desc(), F.col(id_col).asc())
               .limit(k))
        return "exact", top.select(*out_cols, sim_col)
    kw = dict(nsw_kwargs or {})
    if "label" not in df.columns:
        # the graph beam carries a label column through its output
        # (operators.nsw contract); ride a null along so unlabeled
        # corpora serve identically on both sides of the threshold
        # instead of crashing the day they cross it
        df = df.withColumn("label", F.lit(None).cast("int"))
    if store_path is not None:
        from openai_vector_search_demo_spark.operators.nsw import (
            nsw_stored_knn,
        )
        top = nsw_stored_knn(df.sparkSession, store_path, df, query_vec,
                             k=k, vec_col=vec_col, id_col=id_col,
                             sim_col=sim_col, **kw)
        return "graph", top.select(*out_cols, sim_col)
    from openai_vector_search_demo_spark.operators.nsw import nsw_knn
    top = nsw_knn(df, query_vec, k=k, vec_col=vec_col, id_col=id_col,
                  sim_col=sim_col, **kw)
    return "graph", top.select(*out_cols, sim_col)
