# Split from the single-file registry (r14); see _shared for the
# registry, decorator, and parity conventions.
from __future__ import annotations

from openai_vector_search_demo_spark.queries._shared import *  # noqa: F401,F403
from openai_vector_search_demo_spark.queries.ann_quant import _MEAN_RECALL_COS  # noqa: F401
from openai_vector_search_demo_spark.queries.ann_quant import _IVF_TRAINED_NQ  # noqa: F401
from openai_vector_search_demo_spark.queries.ann_quant import _IVF_TRAINED_NPROBE  # noqa: F401
from openai_vector_search_demo_spark.queries.ann_quant import _SQL_DOT_CENT  # noqa: F401
from openai_vector_search_demo_spark.queries.ann_quant import _sql_trained_cent  # noqa: F401
from openai_vector_search_demo_spark.queries.ann_quant import _SQL_COS_TO_Q  # noqa: F401
from openai_vector_search_demo_spark.queries.ann_quant import _ANN_DIM  # noqa: F401

# Binary-signature ANN: sign bits → Hamming ranking → exact refine
# (operators/hamming.py — the 8-byte serving tier below PQ's 12 bytes)
# ---------------------------------------------------------------------------

_HAMMING_NBITS = 62      # one BIGINT signature; see hamming.HAMMING_NBITS
_HAMMING_SHORTLIST = 100


def _sql_planes_lit(planes) -> str:
    """The 62×64 plane matrix as ONE list-of-lists literal."""
    return ("[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in p) + "]" for p in planes)
        + "]")


def _sql_sig_ctes(planes, source: str, id_col: str,
                  prefix: str = "") -> str:
    """Relational signature computation: explode (id, dim-index, value),
    join the plane matrix on the dim index, one grouped SUM per (id,
    plane) for the dots, one grouped SUM for the packed sign bits.  Same
    math as ``_sql_lsh_bucket`` but ~10× faster in DuckDB at 62 planes
    (hash joins + grouped sums instead of 124 interpreted HOF lambdas —
    measured 21 s → ~2 s at sf0.01).  Emits CTEs ``{prefix}ex/dots/sigs``
    with ``sigs({id_col}, sig)``.  Non-associativity note: the grouped
    SUM adds the 64 products in engine order, not HOF order — a sign
    difference vs the Spark side needs a plane dot within float rounding
    of exactly 0, the same pinned-never-happens contract every ANN
    oracle in this file carries."""
    nbits, dim = len(planes), len(planes[0])
    return f"""
{prefix}ex AS (SELECT {id_col}, ii.i AS i,
              CAST(vec[ii.i] AS DOUBLE) AS x
       FROM {source}, UNNEST(generate_series(1, {dim})) AS ii(i)),
{prefix}pl AS (SELECT bb.b AS b, ii.i AS i,
              CAST({_sql_planes_lit(planes)}[bb.b + 1][ii.i] AS DOUBLE) AS w
       FROM UNNEST(generate_series(0, {nbits - 1})) AS bb(b),
            UNNEST(generate_series(1, {dim})) AS ii(i)),
{prefix}dots AS (SELECT e.{id_col}, p.b, SUM(e.x * p.w) AS d
       FROM {prefix}ex e JOIN {prefix}pl p USING (i) GROUP BY 1, 2),
{prefix}sigs AS (SELECT {id_col},
              SUM(CASE WHEN d >= 0 THEN CAST(1 AS BIGINT) << b
                       ELSE 0 END) AS sig
       FROM {prefix}dots GROUP BY 1)"""


def _hamming_knn_oracle(corpus_where: str = "vec_id <> 0") -> str:
    from openai_vector_search_demo_spark.operators.ann import hyperplanes
    planes = hyperplanes(_ANN_DIM, nbits=_HAMMING_NBITS, seed=42)
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
corpus AS (SELECT vec_id, label, embedding FROM embeddings
           WHERE {corpus_where} AND embedding IS NOT NULL),
{_sql_sig_ctes(planes, "(SELECT vec_id, embedding AS vec FROM corpus)",
               "vec_id")},
{_sql_sig_ctes(planes, "(SELECT 0 AS qid, qv AS vec FROM q)", "qid",
               prefix="q")},
short AS (
  SELECT c.vec_id, c.label, c.embedding,
         bit_count(xor(s.sig, qs.sig)) AS ham
  FROM corpus c JOIN sigs s USING (vec_id) CROSS JOIN qsigs qs
  ORDER BY ham ASC, c.vec_id ASC LIMIT {_HAMMING_SHORTLIST}),
r AS (SELECT e.vec_id, e.label, {_SQL_COS_TO_Q} AS sim FROM short e, q)
SELECT vec_id, label, ROUND(sim, 6) AS similarity
FROM r ORDER BY sim DESC, vec_id ASC LIMIT 10
"""


@query("ann_hamming_refine_knn", oracle=_hamming_knn_oracle())
def ann_hamming_refine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-SIGNATURE KNN — the smallest-byte serving tier in the ANN
    ladder: one 62-bit sign signature per vector (8 B — 32× under the
    dim-64 fp32 row; PQ stores 12 B and needs trained codebooks), ranked
    by ``bit_count(sig XOR qsig)`` (pure codegen: the corpus-wide work
    is one XOR+POPCNT per row once signatures are stored), top-100
    shortlist re-scored by exact cosine (the PQ family's refine stage,
    reused pattern).  Seeded planes are inlined as plan literals on both
    sides, so shortlist AND refine replay bit-for-bit in DuckDB.  Recall
    is measured, never assumed: ``ann_hamming_recall_at_10``.  See
    ``operators/hamming.py`` for the 100 TB posture."""
    from openai_vector_search_demo_spark.operators.ann import hyperplanes
    from openai_vector_search_demo_spark.operators.hamming import hamming_knn

    emb = t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    assert len(qvec) == _ANN_DIM
    planes = hyperplanes(_ANN_DIM, nbits=_HAMMING_NBITS, seed=42)
    top = hamming_knn(emb.filter(F.col("vec_id") != 0), qvec, k=10,
                      shortlist=_HAMMING_SHORTLIST, planes=planes,
                      sim_col="sim", tie_break="vec_id")
    return top.select("vec_id", "label",
                      F.round("sim", 6).alias("similarity"))


@query("ann_hamming_stored_knn", oracle=_hamming_knn_oracle())
def ann_hamming_stored_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED binary read path — the serving twin of
    ``ann_hamming_refine_knn`` (identical planes/shortlist/rerank, hence
    the identical oracle): write-time ``write_hamming_index`` persists
    (vec_id, label, sig) — 8 bytes of signature per row, NO fp32 in the
    store and NO training artifact at all — and the query scans that
    table with one XOR+POPCNT per row in whole-stage codegen, then
    point-fetches ONLY the top-100 ids' vectors via a broadcast join for
    the exact rerank (the ``pq_refine_stored_knn`` pattern).  Store
    cached per corpus CONTENT fingerprint (the r4 stale-cache fix).
    Contrast at the byte level: this store is ~16 B/row vs the IVFADC
    store's ~12 B + pinned codebooks + centroid LUT broadcasts — binary
    is the zero-maintenance tier, IVFADC the higher-recall-per-byte
    tier; both refine through the same 100-point-read stage."""
    from openai_vector_search_demo_spark.operators.ann import hyperplanes
    from openai_vector_search_demo_spark.operators.hamming import (
        hamming_stored_knn,
        write_hamming_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    planes = hyperplanes(_ANN_DIM, nbits=_HAMMING_NBITS, seed=42)
    store = open_or_build(
        spark, "hamming", 1, [f"{sf_dir}/embeddings.parquet"],
        lambda path: write_hamming_index(emb.filter(F.col("vec_id") != 0),
                                         path, planes=planes),
        nbits=_HAMMING_NBITS, seed=42)

    top = hamming_stored_knn(spark, store,
                             emb.filter(F.col("vec_id") != 0), qvec,
                             planes=planes, k=10,
                             shortlist=_HAMMING_SHORTLIST, sim_col="sim")
    return top.select("vec_id", "label",
                      F.round("sim", 6).alias("similarity"))


def _ivf_hamming_knn_oracle() -> str:
    from openai_vector_search_demo_spark.operators.ann import hyperplanes
    planes = hyperplanes(_ANN_DIM, nbits=_HAMMING_NBITS, seed=42)
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
corpus AS (SELECT vec_id, label, embedding FROM embeddings
           WHERE vec_id <> 0 AND embedding IS NOT NULL),
cent AS ({_sql_trained_cent()}),
cd AS (SELECT e.vec_id, c.cid, {_SQL_DOT_CENT} AS dot
       FROM corpus e CROSS JOIN cent c),
cm AS (SELECT vec_id, MAX(dot) AS mx FROM cd GROUP BY vec_id),
assigned AS (SELECT cd.vec_id, MIN(cd.cid) AS part
             FROM cd JOIN cm USING (vec_id) WHERE cd.dot = cm.mx
             GROUP BY cd.vec_id),
qd AS (SELECT c.cid,
              list_aggregate(list_transform(range(1, {_ANN_DIM + 1}),
                  i -> CAST(qv[i] AS DOUBLE) * c.c[i]), 'sum') AS dot
       FROM cent c, q),
probes AS (SELECT cid FROM (
             SELECT cid, ROW_NUMBER() OVER (ORDER BY dot DESC, cid ASC)
               AS rn FROM qd) WHERE rn <= {_IVF_TRAINED_NPROBE}),
cand AS (SELECT c.vec_id, c.label, c.embedding
         FROM corpus c JOIN assigned a ON a.vec_id = c.vec_id
         WHERE a.part IN (SELECT cid FROM probes)),
{_sql_sig_ctes(planes, "(SELECT vec_id, embedding AS vec FROM cand)",
               "vec_id")},
{_sql_sig_ctes(planes, "(SELECT 0 AS qid, qv AS vec FROM q)", "qid",
               prefix="q")},
short AS (
  SELECT c.vec_id, c.label, c.embedding,
         bit_count(xor(s.sig, qs.sig)) AS ham
  FROM cand c JOIN sigs s USING (vec_id) CROSS JOIN qsigs qs
  ORDER BY ham ASC, c.vec_id ASC LIMIT {_HAMMING_SHORTLIST}),
r AS (SELECT e.vec_id, e.label, {_SQL_COS_TO_Q} AS sim FROM short e, q)
SELECT vec_id, label, ROUND(sim, 6) AS similarity
FROM r ORDER BY sim DESC, vec_id ASC LIMIT 10
"""


@query("ann_ivfhamming_refine_knn", oracle=_ivf_hamming_knn_oracle())
def ann_ivfhamming_refine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × BINARY × REFINE — the composed ladder rung (FAISS's
    IVF+binary pattern): coarse-cell pruning cuts the candidate set to
    nprobe/nlist of the corpus BEFORE any ranking work, the survivors
    rank by one XOR+POPCNT against the 62-bit query signature, and the
    top-100 shortlist refines with exact cosine — so at a
    cell-partitioned signature store the per-query scan is
    ~(nprobe/nlist) × 8 bytes/row, the cheapest composed read path in
    the engine's family (IVFADC trades those bytes for trained
    codebooks + LUT broadcasts; plain Hamming scans all signatures).
    One Arrow pass fuses assignment + probe filter + sign bits; rows
    outside probed cells never re-enter the JVM
    (``operators/hamming.py::ivf_hamming_knn``).  Same pinned trained
    centroids, planes, and tie rules as the component slots — the
    composition is oracle-replayed end to end."""
    from openai_vector_search_demo_spark.ann_pretrained import (
        IVF_TRAINED_CENTROIDS,
    )
    from openai_vector_search_demo_spark.operators.ann import hyperplanes
    from openai_vector_search_demo_spark.operators.hamming import (
        ivf_hamming_knn,
    )

    emb = t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    assert len(qvec) == _ANN_DIM
    planes = hyperplanes(_ANN_DIM, nbits=_HAMMING_NBITS, seed=42)
    top = ivf_hamming_knn(emb.filter(F.col("vec_id") != 0), qvec,
                          IVF_TRAINED_CENTROIDS,
                          nprobe=_IVF_TRAINED_NPROBE, k=10,
                          shortlist=_HAMMING_SHORTLIST, planes=planes,
                          sim_col="sim", tie_break="vec_id")
    return top.select("vec_id", "label",
                      F.round("sim", 6).alias("similarity"))


@query("ann_ivfhamming_stored_knn", oracle=_ivf_hamming_knn_oracle())
def ann_ivfhamming_stored_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed rung's STORED read path — the byte claim made
    physical: ``write_ivf_hamming_index`` persists the signature table
    CELL-PARTITIONED (one directory per coarse cell, 8 B of signature +
    ids per row, no fp32), and the query enumerates ONLY the nprobe
    probed cell directories at partition discovery
    (``stores.read_probed_partitions``, the IVFADC funnel), pays one
    XOR+POPCNT per surviving row, then broadcast point-fetches the
    top-100 for the exact rerank.  Per-query scan ≈ (nprobe/nlist) ×
    8 B/row — below the IVFADC store's 12 B codes and with no trained
    codebooks to version.  Identical planes/centroids/tie rules as the
    inline ``ann_ivfhamming_refine_knn``, hence the identical oracle;
    store cached per corpus CONTENT fingerprint."""
    from openai_vector_search_demo_spark.ann_pretrained import (
        IVF_TRAINED_CENTROIDS,
    )
    from openai_vector_search_demo_spark.operators.ann import hyperplanes
    from openai_vector_search_demo_spark.operators.hamming import (
        ivf_hamming_stored_knn,
        write_ivf_hamming_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    planes = hyperplanes(_ANN_DIM, nbits=_HAMMING_NBITS, seed=42)
    store = open_or_build(
        spark, "ivfham", 1, [f"{sf_dir}/embeddings.parquet"],
        lambda path: write_ivf_hamming_index(
            emb.filter(F.col("vec_id") != 0), path, IVF_TRAINED_CENTROIDS,
            planes=planes),
        centroids=IVF_TRAINED_CENTROIDS, nbits=_HAMMING_NBITS, seed=42)

    top = ivf_hamming_stored_knn(spark, store,
                                 emb.filter(F.col("vec_id") != 0), qvec,
                                 IVF_TRAINED_CENTROIDS,
                                 nprobe=_IVF_TRAINED_NPROBE, k=10,
                                 shortlist=_HAMMING_SHORTLIST,
                                 planes=planes, sim_col="sim")
    return top.select("vec_id", "label",
                      F.round("sim", 6).alias("similarity"))


def _hamming_recall_oracle() -> str:
    from openai_vector_search_demo_spark.operators.ann import hyperplanes
    planes = hyperplanes(_ANN_DIM, nbits=_HAMMING_NBITS, seed=42)
    return f"""
WITH corpus AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id >= {_IVF_TRAINED_NQ}
                  AND embedding IS NOT NULL),
queries AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            WHERE vec_id < {_IVF_TRAINED_NQ}),
{_sql_sig_ctes(planes, "(SELECT vec_id, embedding AS vec FROM corpus)",
               "vec_id")},
{_sql_sig_ctes(planes, "(SELECT qid, qv AS vec FROM queries)", "qid",
               prefix="q")},
sims AS (SELECT q.qid, e.vec_id, {_MEAN_RECALL_COS} AS sim
         FROM corpus e CROSS JOIN queries q),
ham AS (SELECT qs.qid, s.vec_id, bit_count(xor(s.sig, qs.sig)) AS ham
        FROM sigs s CROSS JOIN qsigs qs),
exact AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, vec_id ASC) AS rn
            FROM sims) WHERE rn <= 10),
short AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY ham ASC, vec_id ASC) AS rn
            FROM ham) WHERE rn <= {_HAMMING_SHORTLIST}),
sig10 AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY ham ASC, vec_id ASC) AS rn
            FROM ham) WHERE rn <= 10),
ref10 AS (SELECT qid, vec_id FROM (
            SELECT s.qid, s.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY s.qid
                                      ORDER BY s.sim DESC, s.vec_id ASC)
                     AS rn
            FROM sims s JOIN short USING (qid, vec_id)) WHERE rn <= 10),
per AS (SELECT e.qid,
               SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0
                 AS recall_ref,
               SUM(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0
                 AS recall_sig
        FROM exact e
        LEFT JOIN ref10 r ON r.qid = e.qid AND r.vec_id = e.vec_id
        LEFT JOIN sig10 g ON g.qid = e.qid AND g.vec_id = e.vec_id
        GROUP BY e.qid)
SELECT COUNT(*) AS n_queries,
       ROUND(AVG(recall_ref), 3) AS mean_recall_at_10,
       ROUND(AVG(recall_sig), 3) AS mean_recall_sig_only
FROM per
"""


_HAMMING_CURVE_RS = [25, 50, 100]


def _hamming_recall_curve_oracle() -> str:
    from openai_vector_search_demo_spark.operators.ann import hyperplanes
    planes = hyperplanes(_ANN_DIM, nbits=_HAMMING_NBITS, seed=42)
    rs = ", ".join(f"({r})" for r in _HAMMING_CURVE_RS)
    return f"""
WITH corpus AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id >= {_IVF_TRAINED_NQ}
                  AND embedding IS NOT NULL),
queries AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            WHERE vec_id < {_IVF_TRAINED_NQ}),
{_sql_sig_ctes(planes, "(SELECT vec_id, embedding AS vec FROM corpus)",
               "vec_id")},
{_sql_sig_ctes(planes, "(SELECT qid, qv AS vec FROM queries)", "qid",
               prefix="q")},
sims AS (SELECT q.qid, e.vec_id, {_MEAN_RECALL_COS} AS sim
         FROM corpus e CROSS JOIN queries q),
ham AS (SELECT qs.qid, s.vec_id, bit_count(xor(s.sig, qs.sig)) AS ham
        FROM sigs s CROSS JOIN qsigs qs),
rs AS (SELECT * FROM (VALUES {rs}) AS t(r)),
exact AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY sim DESC, vec_id ASC) AS rn
            FROM sims) WHERE rn <= 10),
hr AS (SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY ham ASC, vec_id ASC) AS rn
       FROM ham),
short AS (SELECT rs.r, hr.qid, hr.vec_id FROM hr CROSS JOIN rs
          WHERE hr.rn <= rs.r),
ref AS (SELECT r, qid, vec_id FROM (
          SELECT sh.r, s.qid, s.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY sh.r, s.qid
                                    ORDER BY s.sim DESC, s.vec_id ASC)
                   AS rn
          FROM sims s JOIN short sh ON sh.qid = s.qid
                                   AND sh.vec_id = s.vec_id)
        WHERE rn <= 10),
per AS (SELECT rs.r, e.qid,
               SUM(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0
                 AS recall
        FROM exact e CROSS JOIN rs
        LEFT JOIN ref f ON f.r = rs.r AND f.qid = e.qid
                       AND f.vec_id = e.vec_id
        GROUP BY 1, 2)
SELECT r AS shortlist, ROUND(AVG(recall), 3) AS mean_recall_at_10
FROM per GROUP BY r ORDER BY r
"""


@query("ann_hamming_recall_curve", oracle=_hamming_recall_curve_oracle())
def ann_hamming_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refine-BUDGET tradeoff curve for the binary tier: recall@10
    vs shortlist R ∈ {{25, 50, 100}} (R = the number of fp32 point-reads
    each query pays at the refine stage) — receipts the family's R=100
    default as a measured choice rather than a constant.  Same one-pass
    relation as ``ann_hamming_recall_at_10``; each R is a pair of rank
    windows keyed (R, qid) over it — a curve point costs windows, never
    a rescan (the ``ann_ivf_recall_curve`` pattern applied to the
    budget axis instead of the probe axis)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from openai_vector_search_demo_spark.caching import (
        cache_scope,
        scoped_persist,
    )
    from openai_vector_search_demo_spark.operators.ann import hyperplanes

    emb = t(spark, sf_dir, "embeddings")
    planes = hyperplanes(_ANN_DIM, nbits=_HAMMING_NBITS, seed=42)
    pl = np.asarray(planes, dtype=np.float64)

    qrows = (emb.filter(F.col("vec_id") < _IVF_TRAINED_NQ)
             .select("vec_id", "embedding").orderBy("vec_id").collect())
    qids = np.array([int(r.vec_id) for r in qrows], dtype=np.int64)
    qmat = np.array([[float(x) for x in r.embedding] for r in qrows],
                    dtype=np.float64)
    qnorms = np.linalg.norm(qmat, axis=1)
    qnorms[qnorms == 0] = 1.0
    qbits = ((qmat @ pl.T) >= 0.0).astype(np.int64)
    nbits = pl.shape[0]

    corpus = (emb.filter(F.col("vec_id") >= _IVF_TRAINED_NQ)
              .select("vec_id", "embedding"))

    def sims_and_ham(batches):
        for pdf in batches:
            pdf = pdf[pdf["embedding"].notna()]
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            bits = ((mat @ pl.T) >= 0.0).astype(np.int64)
            agree = bits @ qbits.T + (1 - bits) @ (1 - qbits).T
            ham = (nbits - agree).astype(np.int64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sim = (mat @ qmat.T) / np.outer(norms, qnorms)
            n, nq = len(pdf), len(qids)
            yield pd.DataFrame({
                "qid": np.tile(qids, n),
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nq),
                "sim": sim.ravel(),
                "ham": ham.ravel(),
            })

    sims = corpus.mapInPandas(
        sims_and_ham, "qid bigint, vec_id bigint, sim double, ham bigint")
    rs_df = spark.createDataFrame([(r,) for r in _HAMMING_CURVE_RS],
                                  "r int")
    with cache_scope():
        sims = scoped_persist(sims)
        w_sim = Window.partitionBy("qid").orderBy(F.col("sim").desc(),
                                                  F.col("vec_id").asc())
        w_ham = Window.partitionBy("qid").orderBy(F.col("ham").asc(),
                                                  F.col("vec_id").asc())
        exact = (sims.withColumn("rn", F.row_number().over(w_sim))
                 .filter(F.col("rn") <= 10).select("qid", "vec_id"))
        hr = sims.withColumn("rn", F.row_number().over(w_ham))
        short = (hr.crossJoin(F.broadcast(rs_df))
                 .filter(F.col("rn") <= F.col("r"))
                 .select("r", "qid", "vec_id", "sim"))
        w_rq = Window.partitionBy("r", "qid").orderBy(
            F.col("sim").desc(), F.col("vec_id").asc())
        ref = (short.withColumn("rn", F.row_number().over(w_rq))
               .filter(F.col("rn") <= 10)
               .select("r", "qid", "vec_id").withColumn("hit", F.lit(1)))
        base = (exact.crossJoin(F.broadcast(rs_df)))
        per = (base.join(ref, ["r", "qid", "vec_id"], "left")
               .groupBy("r", "qid")
               .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) / 10.0)
                    .alias("recall")))
        out = (per.groupBy("r")
               .agg(F.round(F.avg("recall"), 3).alias("mean_recall_at_10"))
               .select(F.col("r").alias("shortlist"), "mean_recall_at_10")
               .orderBy("shortlist"))
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


@query("ann_hamming_recall_at_10", oracle=_hamming_recall_oracle())
def ann_hamming_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the binary-signature tier vs exact brute force on the
    SAME 20 held-out queries every other recall slot uses (vec_id 0..19;
    single-query recall@10 wobbles ±0.2 — the r7 lesson).  Two numbers
    from one relation: ``mean_recall_sig_only`` ranks by raw Hamming
    top-10 (what 8 bytes alone buy), ``mean_recall_at_10`` adds the
    top-100 exact-cosine refine (what 8 B + 100 fp32 point-reads buy) —
    the same contrast the PQ family receipts at 12 B.  One Arrow pass
    emits (qid, vec_id, sim, ham) for all 20 queries; exact/sig/refined
    top-10 are rank windows over that single relation (the
    ``_mean_recall_harness`` shape, specialized because Hamming RANKS
    rather than prunes — there is no probes relation)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from openai_vector_search_demo_spark.operators.ann import hyperplanes

    emb = t(spark, sf_dir, "embeddings")
    planes = hyperplanes(_ANN_DIM, nbits=_HAMMING_NBITS, seed=42)
    pl = np.asarray(planes, dtype=np.float64)

    qrows = (emb.filter(F.col("vec_id") < _IVF_TRAINED_NQ)
             .select("vec_id", "embedding").orderBy("vec_id").collect())
    qids = np.array([int(r.vec_id) for r in qrows], dtype=np.int64)
    qmat = np.array([[float(x) for x in r.embedding] for r in qrows],
                    dtype=np.float64)
    qnorms = np.linalg.norm(qmat, axis=1)
    qnorms[qnorms == 0] = 1.0
    qbits = ((qmat @ pl.T) >= 0.0).astype(np.int64)      # nq × nbits
    nbits = pl.shape[0]

    corpus = (emb.filter(F.col("vec_id") >= _IVF_TRAINED_NQ)
              .select("vec_id", "embedding"))

    def sims_and_ham(batches):
        for pdf in batches:
            pdf = pdf[pdf["embedding"].notna()]
            if len(pdf) == 0:
                continue
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            bits = ((mat @ pl.T) >= 0.0).astype(np.int64)
            # Hamming via two BLAS calls: agreements on 1-bits + on
            # 0-bits; mismatches = nbits − agreements
            agree = bits @ qbits.T + (1 - bits) @ (1 - qbits).T
            ham = (nbits - agree).astype(np.int64)       # n × nq
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sim = (mat @ qmat.T) / np.outer(norms, qnorms)
            n, nq = len(pdf), len(qids)
            yield pd.DataFrame({
                "qid": np.tile(qids, n),
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nq),
                "sim": sim.ravel(),
                "ham": ham.ravel(),
            })

    sims = corpus.mapInPandas(
        sims_and_ham, "qid bigint, vec_id bigint, sim double, ham bigint")
    from openai_vector_search_demo_spark.caching import (
        cache_scope,
        scoped_persist,
    )

    with cache_scope():
        sims = scoped_persist(sims)  # 4 rank branches read one Arrow pass
        w_sim = Window.partitionBy("qid").orderBy(F.col("sim").desc(),
                                                  F.col("vec_id").asc())
        w_ham = Window.partitionBy("qid").orderBy(F.col("ham").asc(),
                                                  F.col("vec_id").asc())
        exact = (sims.withColumn("rn", F.row_number().over(w_sim))
                 .filter(F.col("rn") <= 10).select("qid", "vec_id"))
        sig10 = (sims.withColumn("rn", F.row_number().over(w_ham))
                 .filter(F.col("rn") <= 10).select("qid", "vec_id")
                 .withColumn("in_sig", F.lit(1)))
        short = (sims.withColumn("rn", F.row_number().over(w_ham))
                 .filter(F.col("rn") <= _HAMMING_SHORTLIST)
                 .select("qid", "vec_id", "sim"))
        ref10 = (short.withColumn("rn", F.row_number().over(w_sim))
                 .filter(F.col("rn") <= 10).select("qid", "vec_id")
                 .withColumn("in_ref", F.lit(1)))
        ov = (exact.join(ref10, ["qid", "vec_id"], "left")
              .join(sig10, ["qid", "vec_id"], "left"))
        per = ov.groupBy("qid").agg(
            (F.sum(F.coalesce(F.col("in_ref"), F.lit(0))) / 10.0)
            .alias("recall_ref"),
            (F.sum(F.coalesce(F.col("in_sig"), F.lit(0))) / 10.0)
            .alias("recall_sig"))
        out = per.agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.avg("recall_ref"), 3).alias("mean_recall_at_10"),
            F.round(F.avg("recall_sig"), 3).alias("mean_recall_sig_only"))
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


@query("hard_negative_mining", oracle=f"""
WITH corpus AS (SELECT vec_id, label, embedding FROM embeddings
                WHERE vec_id >= {_IVF_TRAINED_NQ}
                  AND embedding IS NOT NULL),
queries AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qv
            FROM embeddings WHERE vec_id < {_IVF_TRAINED_NQ}),
sims AS (SELECT q.qid, e.vec_id, e.label, {_MEAN_RECALL_COS} AS sim
         FROM corpus e CROSS JOIN queries q
         WHERE e.label <> q.qlabel),
top AS (SELECT qid, vec_id, label, sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id ASC) AS rn
        FROM sims)
SELECT qid, vec_id, label, ROUND(sim, 6) AS similarity
FROM top WHERE rn <= 5
""")
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive embedding training (DPR /
    Sentence-BERT data prep): per anchor (the shared 20 held-out query
    vectors, their fixture ``label`` as the positive class), the top-5
    most-cosine-similar corpus rows of a DIFFERENT label — similar
    under the current embedding but wrong, the negatives that actually
    move a bi-encoder.  One Arrow/BLAS pass scores all 20 anchors
    against the corpus with the label filter applied batch-side; one
    rank window keeps the top-5 per anchor.  Exact by construction
    (brute force — the restartable default; at anchor-set scale the
    candidate generation routes through a stored ANN shortlist
    instead, ``operators/mining.py`` docstring).  100 scalar rows."""
    from openai_vector_search_demo_spark.operators.mining import (
        hard_negatives,
    )

    emb = t(spark, sf_dir, "embeddings")
    qrows = (emb.filter(F.col("vec_id") < _IVF_TRAINED_NQ)
             .select("vec_id", "label", "embedding")
             .orderBy("vec_id").collect())
    corpus = emb.filter(F.col("vec_id") >= _IVF_TRAINED_NQ)
    out = hard_negatives(
        corpus,
        qids=[int(r.vec_id) for r in qrows],
        qvecs=[[float(x) for x in r.embedding] for r in qrows],
        qlabels=[int(r.label) for r in qrows],
        k=5)
    return out.select("qid", "vec_id", "label",
                      F.round("sim", 6).alias("similarity"))


# ---------------------------------------------------------------------------
