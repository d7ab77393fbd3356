"""Binary-signature ANN: sign-bit quantization + Hamming ranking + refine.

The cheapest serving tier in the engine's compression ladder, below PQ
(``operators/pq.py``): each vector stores ONE 62-bit signature (8 bytes —
32× smaller than the dim-64 fp32 embedding; PQ stores 12 bytes + needs
trained codebooks and per-query LUTs).  The signature is the sign pattern
of projections onto fixed seeded hyperplanes — the SAME bit construction
as the LSH bucket (``operators/ann.py::lsh_bucket``), reused verbatim, but
used as a *ranking* code, not a *pruning* key: candidates are ranked by
Hamming distance ``bit_count(sig XOR qsig)`` (∝ the angle estimate
``θ ≈ π·ham/nbits``, Charikar STOC 2002 / Goemans-Williamson), the top-R
shortlist is then re-scored with exact cosine over the fp32 vectors (the
``IndexRefine`` pattern the PQ family already uses, ``pq.py``), and the
final top-k comes from that refine.

Scale posture (100 TB): at index-build time the signature is a stored
8-byte column (``hamming_assign``); the query-time scan then reads
8 bytes/row and does one XOR+POPCNT per row — pure whole-stage codegen,
no Python, no LUT broadcast, no training step — followed by R point-reads
of fp32 vectors for the refine.  Ranking never shuffles the corpus: the
shortlist is a ``TakeOrderedAndProject`` (R rows to the driver-side limit,
same as every KNN in the engine).  Compared to IVFADC this trades ~1.5×
more scan bytes (8 vs ~1 visible byte after pruning) for zero training,
zero cell skew, and exact-distance-free maintenance — the standard
"binary first, PQ when trained" deployment ladder.

Determinism contract (the ANN-family rule, ``ann.py`` module docstring):
hyperplanes derive from the fixed seed and are inlined as plan literals,
so signature, Hamming ranking, tie-breaks, and refine are all
bit-reproducible in DuckDB for the correctness gate.  ``method='numpy'``
fuses sign-bits + Hamming + cosine into one Arrow/BLAS pass — identical
results unless a hyperplane dot sits within float rounding of exactly 0
(the oracled slot pins that never happens on the fixtures).

Reference: the HNSW index at modules/utilities.py:272-278 in
MaheshSQL/openai-vector-search-demo is the role model (approximate
vector serving); binary quantization is its shared-nothing, Spark-native
substitute at the smallest byte budget.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.functions.vectors import (
    cosine_similarity,
    vector_lit,
)
from openai_vector_search_demo_spark.operators.ann import (
    _check_choice,
    hyperplanes,
    lsh_bucket,
)

HAMMING_NBITS = 62
"""Default signature width: 62 sign bits pack into ONE BIGINT with every
``1 << b`` term a positive in-range literal on both engines (bit 63 would
need an unrepresentable signed literal; bit 62 alone would flip the sign —
harmless for XOR but hostile to every human reading the stored column)."""

HAMMING_AUTO_NUMPY_MIN_OPS = 512
"""``method='auto'`` crossover, the ``LSH_AUTO_NUMPY_MIN_OPS`` twin: the
SQL path costs nbits·dim interpreted HOF multiply-adds per row to build
the signature (62·64 ≈ 4k — far past the few-hundred crossover), so auto
routes to the fused Arrow/BLAS pass everywhere except toy widths.
Measured for THIS family (paired same-session A/B, alternating order,
values asserted bit-identical):
sql 5.42 s vs numpy 0.39 s min at sf0.1, 10.0 vs 0.64 at sf1 — ~14-15×,
far past any plausible re-crossover."""


def signature_of(qvec: Sequence[float],
                 planes: list[list[float]]) -> int:
    """Driver-side signature of one vector (the query's plan literal)."""
    q = np.asarray(list(qvec), dtype=np.float64)
    sig = 0
    for b, plane in enumerate(planes):
        if float(q @ np.asarray(plane, dtype=np.float64)) >= 0.0:
            sig |= 1 << b
    return sig


def hamming_assign(df: DataFrame, vec_col: str = "embedding",
                   planes: list[list[float]] | None = None,
                   nbits: int = HAMMING_NBITS, seed: int = 42,
                   sig_col: str = "sig",
                   dim: int | None = None) -> DataFrame:
    """Write-time signature column (8 bytes/row) — persist this and the
    query-time scan reads signatures only; fp32 vectors are touched just
    for the R refine point-reads.  Same plane-or-dim contract as
    ``ann.lsh_assign``: pass one of them and plan construction is
    job-free."""
    if planes is None:
        if dim is None:
            row = df.select(F.size(F.col(vec_col)).alias("d")).first()
            dim = int(row["d"])
        planes = hyperplanes(dim, nbits, seed)
    return df.withColumn(sig_col, lsh_bucket(vec_col, planes))


def hamming_knn(df: DataFrame, qvec: Sequence[float], k: int = 10,
                shortlist: int = 100, vec_col: str = "embedding",
                planes: list[list[float]] | None = None,
                nbits: int = HAMMING_NBITS, seed: int = 42,
                sim_col: str = "similarity", tie_break: str = "vec_id",
                method: str = "auto") -> DataFrame:
    """Top-k by 62-bit Hamming shortlist (size R=``shortlist``, ties by
    ``tie_break`` asc) + exact cosine refine.  NULL vectors drop (the
    LSH convention).  The exact cosine is computed ONLY on the R
    shortlist rows (post-``TakeOrderedAndProject``) — the corpus-wide
    per-row work is the signature + one XOR/POPCNT, nothing else, in
    both physical paths."""
    _check_choice("method", method, ("auto", "sql", "numpy"))
    dim = len(list(qvec))
    planes = planes or hyperplanes(dim, nbits, seed)
    qsig = signature_of(qvec, planes)
    if method == "auto":
        method = ("numpy" if len(planes) * dim >= HAMMING_AUTO_NUMPY_MIN_OPS
                  else "sql")
    if method == "numpy":
        scored = _hamming_score_numpy(df, qvec, planes, qsig, vec_col)
    else:
        scored = (df.filter(F.col(vec_col).isNotNull())
                  .withColumn("_ham", F.bit_count(
                      lsh_bucket(vec_col, planes).bitwiseXOR(F.lit(qsig)))))
    short = (scored.orderBy(F.col("_ham").asc(), F.col(tie_break).asc())
             .limit(shortlist))
    refined = short.withColumn(
        sim_col, cosine_similarity(F.col(vec_col), vector_lit(qvec)))
    return (refined.orderBy(F.col(sim_col).desc(), F.col(tie_break).asc())
            .limit(k).drop("_ham"))


def ivf_hamming_knn(df: DataFrame, qvec: Sequence[float],
                    centroids: list[list[float]],
                    nprobe: int, k: int = 10, shortlist: int = 100,
                    vec_col: str = "embedding",
                    planes: list[list[float]] | None = None,
                    nbits: int = HAMMING_NBITS, seed: int = 42,
                    sim_col: str = "similarity",
                    tie_break: str = "vec_id") -> DataFrame:
    """The composed serving rung: COARSE-CELL PRUNING × BINARY RANKING
    × EXACT REFINE (FAISS's IVF+binary ladder) — only the ``nprobe``
    nearest cells are candidates at all (at a cell-partitioned store
    that is a partition-pruned scan of 8 B/row), the survivors rank by
    one XOR+POPCNT against the query signature, and the top-R shortlist
    refines with exact cosine.  One Arrow pass fuses cell assignment +
    probe filter + sign bits (rows outside probed cells never cross
    back into the JVM — the ``_ivf_score_numpy``/``_lsh_score_numpy``
    twin); everything after is the same two ``TakeOrderedAndProject``
    ranks as ``hamming_knn``.  Assignment is spherical (argmax dot,
    ties → lowest cid — the trained-IVF convention)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.types import LongType, StructField, StructType

    from openai_vector_search_demo_spark.operators.ann import (
        ivf_probe_cells_dot,
    )

    dim = len(list(qvec))
    planes = planes or hyperplanes(dim, nbits, seed)
    qsig = signature_of(qvec, planes)
    probes = np.asarray(
        sorted(ivf_probe_cells_dot(qvec, centroids, nprobe)),
        dtype=np.int64)
    cent = np.asarray(centroids, dtype=np.float64)
    pl = np.asarray(planes, dtype=np.float64)
    qbits = np.array([(qsig >> b) & 1 for b in range(len(planes))],
                     dtype=bool)

    out_schema = StructType(list(df.schema.fields)
                            + [StructField("_ham", LongType())])

    def score(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cells = (mat @ cent.T).argmax(axis=1)
            mask = np.isin(cells, probes)
            if not mask.any():
                continue
            kept = pdf.loc[mask].copy()
            bits = (mat[mask] @ pl.T) >= 0.0
            kept["_ham"] = (bits != qbits).sum(axis=1).astype(np.int64)
            yield kept

    scored = df.mapInPandas(score, out_schema)
    short = (scored.orderBy(F.col("_ham").asc(), F.col(tie_break).asc())
             .limit(shortlist))
    refined = short.withColumn(
        sim_col, cosine_similarity(F.col(vec_col), vector_lit(qvec)))
    return (refined.orderBy(F.col(sim_col).desc(), F.col(tie_break).asc())
            .limit(k).drop("_ham"))


def write_ivf_hamming_index(df: DataFrame, path: str,
                            centroids: list[list[float]],
                            planes: list[list[float]] | None = None,
                            nbits: int = HAMMING_NBITS, seed: int = 42,
                            vec_col: str = "embedding",
                            keep_cols: list[str] | None = None) -> None:
    """Persist the COMPOSED serving artifact: the 8-byte signature table
    CELL-PARTITIONED by the coarse quantizer (one directory per cell,
    one file per cell via the repartition — the ``write_ivfpq_index``
    layout at the binary byte budget), so the query-time scan is a
    partition-pruned read of ~(nprobe/nlist) of the signatures with
    zero assignment or sign arithmetic at read time.  One Arrow pass
    assigns + signs; NULL vectors drop."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    keep = keep_cols if keep_cols is not None else ["vec_id", "label"]
    if planes is None:
        planes = hyperplanes(len(centroids[0]), nbits, seed)
    cent = np.asarray(centroids, dtype=np.float64)
    pl = np.asarray(planes, dtype=np.float64)
    weights = (np.int64(1) << np.arange(pl.shape[0])).astype(np.int64)

    out_schema = StructType(
        [f for f in df.schema.fields if f.name in keep]
        + [StructField("sig", LongType()), StructField("cell", IntegerType())])

    def enc(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            out = pdf[keep].copy()
            out["sig"] = (((mat @ pl.T) >= 0.0) @ weights).astype(np.int64)
            out["cell"] = (mat @ cent.T).argmax(axis=1).astype("int32")
            yield out

    (df.mapInPandas(enc, out_schema)
       .repartition(F.col("cell"))
       .write.mode("overwrite").partitionBy("cell").parquet(path))


def ivf_hamming_stored_knn(spark, store: str, source: DataFrame,
                           qvec: Sequence[float],
                           centroids: list[list[float]],
                           nprobe: int, k: int = 10, shortlist: int = 100,
                           planes: list[list[float]] | None = None,
                           nbits: int = HAMMING_NBITS, seed: int = 42,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           sim_col: str = "similarity") -> DataFrame:
    """The composed STORED read path — partition discovery enumerates
    ONLY the ``nprobe`` probed cell directories
    (``stores.read_probed_partitions``, the IVFADC funnel), the pruned
    signature scan pays one XOR+POPCNT per surviving row, and the R
    shortlisted ids broadcast-fetch their fp32 vectors for the exact
    rerank.  Per-query bytes: ~(nprobe/nlist) × (8 B + ids)/row —
    the claim ``ivf_hamming_knn``'s docstring makes, made physical.
    Identical values to the inline form by construction (same
    assignment, planes, tie rules); the registered slot carries the
    same oracle."""
    from openai_vector_search_demo_spark.operators.ann import (
        ivf_probe_cells_dot,
    )
    from openai_vector_search_demo_spark.operators.pq import (
        exact_refine_topk,
    )
    from openai_vector_search_demo_spark.stores import (
        read_probed_partitions,
    )

    dim = len(list(qvec))
    planes = planes or hyperplanes(dim, nbits, seed)
    qsig = signature_of(qvec, planes)
    probes = ivf_probe_cells_dot(qvec, centroids, nprobe)
    sigs = read_probed_partitions(spark, store, "cell", probes)
    cand = (sigs.withColumn(
        "_ham", F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))))
        .orderBy(F.col("_ham").asc(), F.col(id_col).asc())
        .limit(shortlist))
    fetched = (source.select(id_col, vec_col)
               .join(F.broadcast(cand), id_col))
    return (exact_refine_topk(fetched, qvec, k=k, vec_col=vec_col,
                              sim_col=sim_col, tie_break=id_col)
            .drop("_ham", "sig", "cell", vec_col))


def write_hamming_index(df: DataFrame, path: str,
                        planes: list[list[float]] | None = None,
                        nbits: int = HAMMING_NBITS, seed: int = 42,
                        vec_col: str = "embedding",
                        keep_cols: list[str] | None = None,
                        dim: int | None = None,
                        tenant_col: str | None = None) -> None:
    """Persist the binary serving artifact: id/meta columns + the ONE
    8-byte ``sig`` — fp32 vectors never enter the store (the
    ``write_ivfpq_index`` contract at an even smaller byte budget, and
    with NO training artifact to version: the planes are (dim, nbits,
    seed)).  NULL vectors drop (the family contract).  With
    ``tenant_col`` the store is tenant-partitioned
    (``tenant=T/…`` — the reference's per-alias physical isolation);
    ``hamming_stored_knn(tenant=...)`` then scans only its tenant's
    signatures."""
    keep = keep_cols if keep_cols is not None else ["vec_id", "label"]
    assigned = hamming_assign(df.filter(F.col(vec_col).isNotNull()),
                              vec_col=vec_col, planes=planes, nbits=nbits,
                              seed=seed, dim=dim)
    if tenant_col is None:
        assigned.select(*keep, "sig").write.mode("overwrite").parquet(path)
    else:
        (assigned.select(*keep, tenant_col, "sig")
         .write.mode("overwrite").partitionBy(tenant_col).parquet(path))


def hamming_stored_knn(spark, store: str, source: DataFrame,
                       qvec: Sequence[float],
                       planes: list[list[float]] | None = None,
                       nbits: int = HAMMING_NBITS, seed: int = 42,
                       k: int = 10, shortlist: int = 100,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       sim_col: str = "similarity",
                       tenant=None) -> DataFrame:
    """The STORED binary read path — what a 100 TB deployment runs: the
    shortlist scan touches the signature table only (8 B + id per row,
    one XOR+POPCNT in whole-stage codegen, zero Python), and ONLY the R
    shortlisted ids fetch their fp32 vectors from ``source`` via a
    BROADCAST join of the R-row candidate frame (the
    ``pq_refine_stored_knn`` point-lookup pattern — never a corpus
    shuffle).  Identical values to the inline ``hamming_knn`` by
    construction: same signature, same (ham, id) shortlist order, same
    exact-cosine rerank."""
    from openai_vector_search_demo_spark.operators.pq import (
        exact_refine_topk,
    )

    dim = len(list(qvec))
    planes = planes or hyperplanes(dim, nbits, seed)
    qsig = signature_of(qvec, planes)
    if tenant is not None:
        # tenant-scoped store (write_hamming_index(tenant_col=...)):
        # open only the tenant's subtree — other tenants' signature
        # files are never listed (structural isolation).  Hive-escaped:
        # the path matches what partitionBy wrote, and a '/'-bearing
        # value cannot escape the subtree.
        from openai_vector_search_demo_spark.stores import (
            escape_partition_value,
        )
        store = f"{store.rstrip('/')}/tenant={escape_partition_value(tenant)}"
    sigs = spark.read.parquet(store)
    cand = (sigs.withColumn(
        "_ham", F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))))
        .orderBy(F.col("_ham").asc(), F.col(id_col).asc())
        .limit(shortlist))
    fetched = (source.select(id_col, vec_col)
               .join(F.broadcast(cand), id_col))
    return (exact_refine_topk(fetched, qvec, k=k, vec_col=vec_col,
                              sim_col=sim_col, tie_break=id_col)
            .drop("_ham", "sig", vec_col))


def _hamming_score_numpy(df: DataFrame, qvec: Sequence[float],
                         planes: list[list[float]], qsig: int,
                         vec_col: str) -> DataFrame:
    """One Arrow pass: BLAS sign bits → Hamming (count of sign mismatches
    vs the query's bit vector — identical to bit_count(sig XOR qsig) by
    construction).  Cosine is NOT computed here: the refine happens on
    the R-row shortlist only (``hamming_knn``).  The ``_lsh_score_numpy``
    twin."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(list(df.schema.fields)
                            + [StructField("_ham", LongType())])
    pl = np.asarray(planes, dtype=np.float64)           # nbits × dim
    qbits = np.array([(qsig >> b) & 1 for b in range(len(planes))],
                     dtype=bool)

    def score(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (mat @ pl.T) >= 0.0                  # n × nbits
            out = pdf.copy()
            out["_ham"] = (bits != qbits).sum(axis=1).astype(np.int64)
            yield out

    return df.mapInPandas(score, out_schema)
