"""Product quantization (PQ) — vector COMPRESSION for ANN at storage
scale, the canonical companion of the IVF coarse quantizer (Jégou,
Douze & Schmid, "Product Quantization for Nearest Neighbor Search",
TPAMI 2011; the reference's HNSW serves fp32 vectors from RAM —
modules/utilities.py — which stops being an option at 100 TB).

The vector splits into ``m`` subvectors; each subspace trains its own
small k-means codebook (``ksub`` centroids), and a vector is stored as
``m`` small codes — the pinned config is m=16 × 64 centroids = 16
six-bit codes = 12 bytes per dim-64 vector vs 256 bytes fp32: **21×
compression** (the full bytes↔recall curve is in SCALE.md).  A query is
answered with ASYMMETRIC DISTANCE COMPUTATION (ADC): the query stays
uncompressed, a per-subspace lookup table ``lut[j][c] = ||q_j − cb_j[c]||²``
is built driver-side (m·ksub floats — trivial), and a row's approximate
squared distance is ``Σ_j lut[j][code_j]`` — m array lookups and adds
per row, no vector math at scan time.

Cosine compatibility: vectors (and the query) are L2-normalized BEFORE
encoding, so squared Euclidean is monotone in cosine (‖a−b‖² = 2−2·cos)
and ADC ranks by angular distance — the same normalize-then-L2 contract
as ``train_centroids_spherical``.

Spark-first shape: codebooks are tiny plan literals (trained offline,
seeded — ``scripts/train_pq_codebooks.py`` pins them in
``pq_pretrained.py``, the ``ann_pretrained`` pattern), encoding is a
pure Arrow map (the DuckDB oracle re-derives it with expression
arithmetic from the same literals), and ADC scoring is a map + the
``TakeOrderedAndProject`` top-k — over the stored-codes table the
scoring is even whole-stage-codegen with no Python at all
(``pq_adc_stored_knn``).  Nothing shuffles but the final top-k merge.  Recall is a MEASURED property (`queries.ann_pq_recall_at_10`
scores the 20 held-out fixture queries), never assumed.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["train_pq_codebooks", "pq_encode_numpy", "pq_adc_knn",
           "adc_lut", "pq_encode_df", "write_pq_codes",
           "pq_adc_stored_knn", "residual_assign_encode_numpy",
           "residual_adc_luts", "ivfpq_residual_knn",
           "exact_refine_topk", "ivfpq_refine_knn",
           "pq_refine_stored_knn", "write_ivfpq_index",
           "ivfpq_stored_knn"]


def train_pq_codebooks(vectors: np.ndarray, m: int = 8, ksub: int = 64,
                       seed: int = 42, iters: int = 25,
                       normalize: bool = True) -> list[list[list[float]]]:
    """Seeded per-subspace k-means over L2-NORMALIZED training vectors —
    ``codebooks[j][c]`` is centroid ``c`` of subspace ``j``.  Same
    determinism contract as ``train_centroids``: seeded-permutation
    init, fixed iterations, empty cells keep their centroid, 6-dp
    rounding for exact literal round-trip through Spark and DuckDB.

    ``normalize=False`` trains on the vectors AS GIVEN — the residual
    (IVFADC) path, whose inputs ``x_norm − centroid`` are deliberately
    NOT unit vectors (their length is the quantization signal)."""
    from openai_vector_search_demo_spark.operators.ann import (
        train_centroids,
    )
    x = np.asarray(vectors, dtype=np.float64)
    if x.shape[1] % m:
        raise ValueError(f"dim {x.shape[1]} not divisible by m={m}")
    if normalize:
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        x = x / norms
    sub = x.shape[1] // m
    return [train_centroids(x[:, j * sub:(j + 1) * sub], ksub, seed=seed,
                            iters=iters)
            for j in range(m)]


def _normalize(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return mat / n


def _nonzero_mask(mat: np.ndarray) -> np.ndarray:
    """Rows with positive L2 norm — the family's cosine contract (every
    PQ oracle filters ``WHERE nrm > 0``): a zero vector has no direction,
    so it is dropped alongside NULLs rather than encoded as if unit."""
    return np.linalg.norm(mat, axis=1) > 0


def pq_encode_numpy(mat: np.ndarray,
                    codebooks: list[list[list[float]]],
                    normalize: bool = True) -> np.ndarray:
    """Codes (n × m int) for L2-normalized rows — per-subspace argmin
    squared distance, ties to the lower centroid index (argmin's
    first-occurrence contract, mirrored by the oracle's MIN(c)).
    ``normalize=False`` encodes the rows as given (residual vectors)."""
    x = np.asarray(mat, dtype=np.float64)
    xn = _normalize(x) if normalize else x
    m = len(codebooks)
    sub = xn.shape[1] // m
    out = np.empty((len(xn), m), dtype=np.int64)
    for j, cb in enumerate(codebooks):
        c = np.asarray(cb, dtype=np.float64)
        s = xn[:, j * sub:(j + 1) * sub]
        # direct (x−c)² differences, NOT the expanded |x|²−2xc+|c|² BLAS
        # form: the oracle sums the same per-dim squares in the same
        # order, so argmin ties resolve identically on both engines
        diff = s[:, None, :] - c[None, :, :]
        d2 = (diff * diff).sum(axis=2)
        out[:, j] = d2.argmin(axis=1)
    return out


def adc_lut(qvec: Sequence[float],
            codebooks: list[list[list[float]]]) -> list[list[float]]:
    """``lut[j][c] = ||q_j − cb_j[c]||²`` for the L2-normalized query —
    the m·ksub floats ADC scoring needs, built driver-side."""
    q = _normalize(np.asarray(list(qvec), dtype=np.float64)[None, :])[0]
    m = len(codebooks)
    sub = len(q) // m
    out = []
    for j, cb in enumerate(codebooks):
        c = np.asarray(cb, dtype=np.float64)
        diff = c - q[j * sub:(j + 1) * sub][None, :]
        out.append([float(v) for v in (diff * diff).sum(axis=1)])
    return out


def pq_adc_knn(df: DataFrame, qvec: Sequence[float],
               codebooks: list[list[list[float]]], k: int = 10,
               vec_col: str = "embedding",
               dist_col: str = "adc_dist",
               tie_break: str | None = None) -> DataFrame:
    """ADC top-k over PQ-encoded vectors: one Arrow pass encodes (in
    production the codes are the STORED column — ``write_pq_codes`` /
    ``pq_adc_stored_knn`` below — and this pass disappears entirely) and scores each row as
    ``Σ_j lut[j][code_j]``; ascending distance, ``TakeOrderedAndProject``
    top-k.  NULL and zero-norm vectors drop (the family's contract —
    the oracles' ``WHERE nrm > 0``)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    lut = np.asarray(adc_lut(qvec, codebooks), dtype=np.float64)
    out_schema = StructType(list(df.schema.fields)
                            + [StructField(dist_col, DoubleType())])
    cb = codebooks

    def score(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nz = _nonzero_mask(mat)
            if not nz.any():
                continue
            pdf, mat = pdf[nz], mat[nz]
            codes = pq_encode_numpy(mat, cb)
            kept = pdf.copy()
            kept[dist_col] = lut[np.arange(len(cb))[None, :], codes].sum(1)
            yield kept

    scored = df.mapInPandas(score, out_schema)
    order = [F.col(dist_col).asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    return scored.orderBy(*order).limit(k)


def pq_encode_df(df: DataFrame, codebooks: list[list[list[float]]],
                 vec_col: str = "embedding",
                 code_col: str = "codes") -> DataFrame:
    """Write-time PQ encoding: the input columns plus an ``array<int>``
    code column (one Arrow pass; NULL and zero-norm vectors get NULL
    codes — the latter have no direction under the cosine contract — so
    the write keeps row parity with the source and downstream filters
    on ``codes IS NOT NULL`` drop both)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    out_schema = StructType(list(df.schema.fields)
                            + [StructField(code_col,
                                           ArrayType(IntegerType()))])
    cb = codebooks

    def enc(batches):
        for pdf in batches:
            out = pdf.copy()
            mask = pdf[vec_col].notna()
            codes = pd.Series([None] * len(pdf), index=pdf.index,
                              dtype=object)
            if mask.any():
                import numpy as np
                mat = np.array(pdf.loc[mask, vec_col].tolist(),
                               dtype=np.float64)
                nz = _nonzero_mask(mat)
                if nz.any():
                    cc = pq_encode_numpy(mat[nz], cb)
                    codes.loc[mask[mask].index[nz]] = \
                        [[int(x) for x in row] for row in cc]
            out[code_col] = codes
            yield out

    return df.mapInPandas(enc, out_schema)


def write_pq_codes(df: DataFrame, path: str,
                   codebooks: list[list[list[float]]],
                   vec_col: str = "embedding",
                   keep_cols: list[str] | None = None) -> None:
    """Persist the PQ-CODES table — the 100 TB serving artifact: id/meta
    columns plus ``codes`` (m small ints ≈ 12 bytes), the fp32 vectors
    dropped.  ``pq_adc_stored_knn`` queries this table with pure codegen
    arithmetic; the vectors never leave cold storage."""
    cols = keep_cols or [c for c in df.columns if c != vec_col]
    (pq_encode_df(df, codebooks, vec_col)
     .filter(F.col("codes").isNotNull())
     .select(*cols, "codes")
     .write.mode("overwrite").parquet(path))


def residual_assign_encode_numpy(mat: np.ndarray,
                                 centroids: list[list[float]],
                                 codebooks: list[list[list[float]]]
                                 ) -> tuple[np.ndarray, np.ndarray]:
    """RESIDUAL encoding — the IVFADC variant of Jégou et al. (TPAMI
    2011, §IV): each L2-normalized vector is assigned to its coarse
    cell (argmax dot, ties to the lower cid — the spherical-quantizer
    contract of ``ann.ivf_cell_dot``) and the PQ codes quantize the
    RESIDUAL ``x_norm − centroid[cell]`` rather than the raw vector.
    Residuals concentrate near the origin with most between-cluster
    structure already removed, so the same 12-byte budget resolves
    WITHIN-cluster geometry — exactly what raw-vector PQ loses on
    clustered corpora (the measured 0.42-recall inversion).

    Returns ``(cells (n,), codes (n, m))`` for rows of positive norm;
    callers drop NULL/zero-norm rows first (the family contract)."""
    xn = _normalize(np.asarray(mat, dtype=np.float64))
    cent = np.asarray(centroids, dtype=np.float64)
    cells = (xn @ cent.T).argmax(axis=1)        # first-occurrence = low cid
    res = xn - cent[cells]
    return cells, pq_encode_numpy(res, codebooks, normalize=False)


def residual_adc_luts(qvec: Sequence[float],
                      centroids: list[list[float]],
                      codebooks: list[list[list[float]]],
                      cells: Sequence[int]) -> dict[int, list[list[float]]]:
    """Per-cell ADC lookup tables for the residual code space:
    ``lut[cell][j][c] = ||(q_norm − centroid[cell])_j − cb_j[c]||²`` —
    ADC against residual codes needs the query expressed in each probed
    cell's residual frame (|probes| · m · ksub floats, driver-side)."""
    q = _normalize(np.asarray(list(qvec), dtype=np.float64)[None, :])[0]
    cent = np.asarray(centroids, dtype=np.float64)
    m = len(codebooks)
    sub = len(q) // m
    out: dict[int, list[list[float]]] = {}
    for cell in cells:
        qr = q - cent[cell]
        luts = []
        for j, cb in enumerate(codebooks):
            c = np.asarray(cb, dtype=np.float64)
            diff = c - qr[j * sub:(j + 1) * sub][None, :]
            luts.append([float(v) for v in (diff * diff).sum(axis=1)])
        out[int(cell)] = luts
    return out


def ivfpq_residual_knn(df: DataFrame, qvec: Sequence[float],
                       centroids: list[list[float]],
                       codebooks: list[list[list[float]]],
                       nprobe: int, k: int = 10,
                       vec_col: str = "embedding",
                       dist_col: str = "adc_dist",
                       tie_break: str | None = None) -> DataFrame:
    """IVFADC top-k — coarse pruning × RESIDUAL code compression, the
    full FAISS ``IVFx,PQy`` layout: probe the ``nprobe`` best cells,
    score only their members by ADC over residual codes with the
    query's per-cell LUTs.  One Arrow pass assigns + encodes + scores
    (in production cells and codes are STORED columns and the pass
    degenerates to the LUT lookups); ascending distance,
    ``TakeOrderedAndProject`` top-k; NULL and zero-norm vectors drop."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from openai_vector_search_demo_spark.operators.ann import (
        ivf_probe_cells_dot,
    )

    probes = ivf_probe_cells_dot(qvec, centroids, nprobe)
    luts = residual_adc_luts(qvec, centroids, codebooks, probes)
    lut_arr = {c: np.asarray(v, dtype=np.float64) for c, v in luts.items()}
    probe_set = set(probes)
    out_schema = StructType(list(df.schema.fields)
                            + [StructField(dist_col, DoubleType())])
    cb, cent = codebooks, centroids
    m = len(codebooks)

    def score(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nz = _nonzero_mask(mat)
            if not nz.any():
                continue
            pdf, mat = pdf[nz], mat[nz]
            cells, codes = residual_assign_encode_numpy(mat, cent, cb)
            keep = np.isin(cells, list(probe_set))
            if not keep.any():
                continue
            pdf, cells, codes = pdf[keep], cells[keep], codes[keep]
            dist = np.empty(len(pdf), dtype=np.float64)
            jj = np.arange(m)
            for i, (cell, code) in enumerate(zip(cells, codes)):
                dist[i] = lut_arr[int(cell)][jj, code].sum()
            kept = pdf.copy()
            kept[dist_col] = dist
            yield kept

    scored = df.mapInPandas(score, out_schema)
    order = [F.col(dist_col).asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    return scored.orderBy(*order).limit(k)


def exact_refine_topk(cand: DataFrame, qvec: Sequence[float], k: int = 10,
                      vec_col: str = "embedding",
                      sim_col: str = "similarity",
                      tie_break: str | None = None) -> DataFrame:
    """EXACT-COSINE RERANK of an ADC candidate shortlist — the FAISS
    ``IndexRefine`` stage (Jégou et al., TPAMI 2011 §V.A "re-ranking"):
    ADC ranks cheaply but approximately; re-scoring the top ``R``
    candidates with true cosine recovers most of the recall the 12-byte
    codes lose, at the cost of touching R fp32 vectors per query
    instead of zero.  The candidate frame is tiny (R = k·refine_factor
    rows), so the exact cosine here is the codegen HOF form — the same
    ``functions.vectors.cosine_similarity`` expression the Q2 oracle
    family pins — never a new scoring convention."""
    from openai_vector_search_demo_spark.functions.vectors import (
        cosine_similarity,
        vector_lit,
    )
    scored = cand.withColumn(
        sim_col, cosine_similarity(F.col(vec_col), vector_lit(list(qvec))))
    order = [F.col(sim_col).desc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    return scored.orderBy(*order).limit(k)


def ivfpq_refine_knn(df: DataFrame, qvec: Sequence[float],
                     centroids: list[list[float]],
                     codebooks: list[list[list[float]]],
                     nprobe: int, k: int = 10, refine_factor: int = 5,
                     vec_col: str = "embedding",
                     sim_col: str = "similarity",
                     tie_break: str | None = None) -> DataFrame:
    """IVFADC + REFINE — the full three-stage serving stack (FAISS's
    ``IVFx,PQy`` wrapped in ``IndexRefine``): coarse pruning cuts the
    scan to nprobe/nlist, residual-ADC over 12-byte codes ranks the
    survivors, and the top ``k·refine_factor`` shortlist is re-scored
    with exact cosine.  Per query the fp32 vectors touched drop from
    |corpus| (brute force) to R — the refine read is a point lookup
    against cold storage, so compression economics survive while
    recall climbs back toward the coarse quantizer's ceiling (measured:
    ``ann_pq_refine*_recall_at_10``)."""
    cand = ivfpq_residual_knn(df, qvec, centroids, codebooks, nprobe,
                              k=k * refine_factor, vec_col=vec_col,
                              tie_break=tie_break)
    return exact_refine_topk(cand, qvec, k=k, vec_col=vec_col,
                             sim_col=sim_col,
                             tie_break=tie_break).drop("adc_dist")


def pq_refine_stored_knn(spark, store: str, source: DataFrame,
                         qvec: Sequence[float],
                         codebooks: list[list[list[float]]],
                         k: int = 10, refine_factor: int = 5,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         sim_col: str = "similarity") -> DataFrame:
    """The STORED refine path — what a 100 TB deployment actually runs:
    the shortlist comes from the codes table in pure codegen
    (``pq_adc_stored_knn``, 12 bytes/row, no Python), and ONLY the R
    shortlisted ids fetch their fp32 vectors from ``source`` for the
    exact rerank.  The fetch is a BROADCAST join of the R-row shortlist
    against the vector table — the small side is the candidates, so at
    scale it is a semi-join pushdown / point-lookup pattern, never a
    shuffle of the corpus."""
    cand = pq_adc_stored_knn(spark, store, qvec, codebooks,
                             k=k * refine_factor, tie_break=id_col)
    fetched = (source.select(id_col, vec_col)
               .join(F.broadcast(cand), id_col))
    return exact_refine_topk(fetched, qvec, k=k, vec_col=vec_col,
                             sim_col=sim_col,
                             tie_break=id_col).drop("adc_dist", vec_col)


def _residual_encoded(df: DataFrame,
                      centroids: list[list[float]],
                      codebooks: list[list[list[float]]],
                      vec_col: str, cols: list[str]) -> DataFrame:
    """One Arrow pass: assign each vector its coarse cell and
    residual-encode it — ``(cols..., cell, codes)``.  NULL and
    zero-norm vectors drop (the family contract)."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [f for f in df.schema.fields if f.name in cols]
        + [StructField("cell", IntegerType()),
           StructField("codes", ArrayType(IntegerType()))])
    cb, cent = codebooks, centroids

    def enc(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            if len(pdf) == 0:
                continue
            mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            nz = _nonzero_mask(mat)
            if not nz.any():
                continue
            pdf, mat = pdf[nz], mat[nz]
            cells, codes = residual_assign_encode_numpy(mat, cent, cb)
            out = pdf[cols].copy()
            out["cell"] = cells.astype("int32")
            out["codes"] = [[int(x) for x in row] for row in codes]
            yield out

    return df.mapInPandas(enc, out_schema)


def write_ivfpq_index(df: DataFrame, path: str,
                      centroids: list[list[float]],
                      codebooks: list[list[list[float]]],
                      vec_col: str = "embedding",
                      keep_cols: list[str] | None = None,
                      tenant_col: str | None = None) -> None:
    """Persist the FULL IVFADC serving artifact — the billion-scale
    layout the inline ``ivfpq_residual_knn`` simulates: one Arrow pass
    assigns each vector its coarse cell and residual-encodes it, and
    the table lands CELL-PARTITIONED (one directory per cell, one file
    per cell from the ``repartition``) holding only id/meta columns
    plus the 12-byte ``codes`` — fp32 vectors never enter the index.
    Queries read nprobe/nlist of the DIRECTORIES at ~1.8% of the fp32
    bytes, with zero assignment or encoding arithmetic at read time.
    NULL and zero-norm vectors drop (the family contract).

    Rows carry ``(batch=0, tombstone=false)`` so ``upsert_ivfpq_index``
    segments resolve against them; a store without segments skips the
    latest-wins resolve entirely (zero serving cost until an upsert).

    With ``tenant_col`` the store is TENANT-FIRST partitioned
    (``tenant=T/cell=C`` — the reference's per-alias physical
    isolation, modules/utilities.py:282-287): a tenant's query opens
    only its own subtree (``ivfpq_stored_knn(tenant=...)``), so other
    tenants' cells are never listed; per-tenant upsert/compaction
    point ``upsert_ivfpq_index`` at the tenant subtree.

    An input with no non-null, nonzero vector raises ``ValueError``
    after deleting what the write left at ``path``: a partitioned write
    of zero rows leaves no parquet file, a store no reader can open."""
    from openai_vector_search_demo_spark.stores import _hadoop_path_fs

    cols = keep_cols or [c for c in df.columns if c != vec_col]
    parts = ["cell"] if tenant_col is None else [tenant_col, "cell"]
    if tenant_col is not None and tenant_col not in cols:
        cols = [*cols, tenant_col]
    (_residual_encoded(df, centroids, codebooks, vec_col, cols)
     .withColumn("batch", F.lit(0))
     .withColumn("tombstone", F.lit(False))
     .repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy(*parts).parquet(path))
    jpath, fs = _hadoop_path_fs(df.sparkSession, path)
    if not any(st.isDirectory() for st in fs.listStatus(jpath)):
        fs.delete(jpath, True)
        raise ValueError(
            f"write_ivfpq_index: the input holds no non-null, nonzero "
            f"{vec_col!r} vector, and an empty store cannot be read")


def upsert_ivfpq_index(spark, df: DataFrame, path: str,
                       centroids: list[list[float]],
                       codebooks: list[list[list[float]]],
                       vec_col: str = "embedding",
                       keep_cols: list[str] | None = None,
                       id_col: str = "vec_id",
                       delete: bool = False) -> int:
    """INCREMENTAL index maintenance — merge a batch of new/changed
    vectors (or, with ``delete=True``, ids to remove) into a
    ``write_ivfpq_index`` store WITHOUT rebuilding it, as one segment
    (``stores.write_segment``).  Returns the batch number written: the
    manifest's segment count + 1.

    An updated embedding may land in a DIFFERENT coarse cell than its
    previous version, and a pruned query probing only the old cell
    would serve the stale row.  So the upsert writes a **cell-local
    tombstone into every cell holding the id**, and whichever cell a
    query probes, the stale version loses the per-(id, cell)
    latest-wins resolve; a data row beats its own batch's tombstone.

    Cost: one Arrow encode pass over the BATCH and one semi-join of the
    store against its ids; the fp32 corpus is never touched.
    ``compact_ivfpq_index`` folds the segments back into one base."""
    from openai_vector_search_demo_spark.stores import (
        SEGMENTS,
        write_segment,
    )

    manifest, existing = _ivfpq_rows(spark, path)
    # Columns come from the STORE's schema, not the batch's: a delete
    # batch may carry only ids, and narrower tombstone files would let
    # a read that samples their footer drop the store's meta columns.
    # Tombstones copy meta values from the rows they shadow; fresh rows
    # must supply every meta column (the select fails loudly if not).
    cols = keep_cols or [c for c in existing.columns
                         if c not in ("cell", "codes", "batch",
                                      "tombstone")]
    batch = len((manifest or {}).get("segments", [])) + 1

    ids = df.select(id_col).distinct()
    # one tombstone per (id, cell) pair currently in the store
    tombs = (existing.join(ids, id_col)
             .dropDuplicates([id_col, "cell"])
             .select(*cols, "cell", "codes")
             .withColumn("batch", F.lit(batch))
             .withColumn("tombstone", F.lit(True)))
    out = tombs
    if not delete:
        fresh = (_residual_encoded(df, centroids, codebooks, vec_col,
                                   cols)
                 .withColumn("batch", F.lit(batch))
                 .withColumn("tombstone", F.lit(False)))
        out = tombs.unionByName(fresh)
    # repartition: the encode pass stays parallel under the coalesce
    write_segment(spark, path, SEGMENTS, manifest, {"": out.repartition(1)})
    return batch


def _ivfpq_rows(spark, path: str) -> tuple[dict | None, DataFrame]:
    """(manifest, every row): the base plus the segments it names.  The
    base is ``cell=`` partition directories, which one scan cannot share
    with plain segment files, so the segments are one scan of their own
    with the base's schema."""
    from openai_vector_search_demo_spark.stores import (
        SEGMENTS,
        layer_paths,
        read_layer,
        read_manifest,
    )
    manifest = read_manifest(spark, path, SEGMENTS)
    base, *segments = layer_paths(path, manifest)
    rows = spark.read.parquet(base)
    if segments:
        rows = rows.unionByName(read_layer(spark, segments, rows.schema))
    return manifest, rows


def resolve_ivfpq_versions(cand: DataFrame,
                           id_col: str = "vec_id") -> DataFrame:
    """Per-(id, cell) latest-wins over an upserted store's rows: newest
    batch wins, a data row beats its own batch's tombstone, surviving
    tombstones drop.  Applied to the PROBED subset only — the window
    shuffles candidate rows, never the store."""
    from pyspark.sql.window import Window

    w = (Window.partitionBy(id_col, "cell")
         .orderBy(F.col("batch").desc(), F.col("tombstone").asc()))
    return (cand.withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & (~F.col("tombstone")))
            .drop("_rn", "batch", "tombstone"))


def compact_ivfpq_index(spark, path: str, dest: str,
                        id_col: str = "vec_id") -> None:
    """Fold an upserted store into a new single-version base at
    ``dest`` (the caller swaps paths): latest-wins over the base and
    every segment in ALL cells, ``batch`` reset to 0, tombstones
    dropped — the read path's segment-free zero-cost form again."""
    resolved = (resolve_ivfpq_versions(_ivfpq_rows(spark, path)[1], id_col)
                .withColumn("batch", F.lit(0))
                .withColumn("tombstone", F.lit(False)))
    (resolved.repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell").parquet(dest))


def ivfpq_stored_knn(spark, store: str, qvec: Sequence[float],
                     centroids: list[list[float]],
                     codebooks: list[list[list[float]]],
                     nprobe: int, k: int = 10,
                     refine_source: DataFrame | None = None,
                     refine_factor: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     dist_col: str = "adc_dist",
                     sim_col: str = "similarity",
                     table: str | None = None,
                     tenant=None) -> DataFrame:
    """Query the stored IVFADC index — every scale lever of the family
    composed into ONE read plan:

    1. **Partition pruning**: only the ``nprobe`` probed cell
       directories are read (``stores.read_probed_partitions`` —
       catalog-backed when ``table`` is given, local-FS ``basePath``
       otherwise).
    2. **Codegen ADC**: the per-cell residual LUTs arrive as a
       BROADCAST |probes|-row relation joined on the partition column,
       and the distance is a whole-stage-codegen ``aggregate`` over
       the 12-byte code array — no Python, no Arrow, no vector math.
    3. **Optional exact refine**: with ``refine_source`` (the fp32
       vector table), the top ``k·refine_factor`` ids broadcast-join
       back for the true-cosine rerank — ``IndexRefine`` economics:
       R point lookups against cold storage per query.

    Values are identical to the inline ``ivfpq_residual_knn`` /
    ``ivfpq_refine_knn`` (encode moved to write time, same LUTs)."""
    from openai_vector_search_demo_spark.operators.ann import (
        ivf_probe_cells_dot,
    )
    from openai_vector_search_demo_spark.stores import (
        SEGMENTS,
        layer_paths,
        read_layer,
        read_manifest,
        read_probed_partitions,
    )

    probes = ivf_probe_cells_dot(qvec, centroids, nprobe)
    luts = residual_adc_luts(qvec, centroids, codebooks, probes)
    m = len(codebooks)
    if tenant is not None:
        # tenant-scoped store (write_ivfpq_index(tenant_col=...)):
        # descend into the tenant's subtree BEFORE cell enumeration —
        # other tenants' cell directories are never listed (structural
        # isolation, not just a filter).  Hive-escaped: the path matches
        # what partitionBy wrote, and a '/'-bearing value cannot escape
        # the subtree.
        from openai_vector_search_demo_spark.stores import (
            escape_partition_value,
        )
        store = f"{store.rstrip('/')}/tenant={escape_partition_value(tenant)}"
    cand = read_probed_partitions(spark, store, "cell", probes,
                                  table=table)
    # the probed cells of every segment (batch-sized files, one scan
    # with the base's schema) join the candidates, and per-(id, cell)
    # latest-wins drops stale versions and tombstoned ids; a store
    # without segments skips it (no window, no shuffle)
    segments = layer_paths(store, read_manifest(spark, store, SEGMENTS))[1:]
    if segments:
        cand = resolve_ivfpq_versions(
            cand.unionByName(read_layer(spark, segments, cand.schema)
                             .filter(F.col("cell").isin(probes))),
            id_col)
    elif "batch" in cand.columns:
        cand = cand.drop("batch", "tombstone")
    lut_df = spark.createDataFrame(
        [(int(c), [[float(v) for v in row] for row in luts[c]])
         for c in probes],
        "cell int, _lut array<array<double>>")
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0),
        lambda acc, j: acc + F.element_at(
            F.element_at(F.col("_lut"), j + 1),
            F.element_at(F.col("codes"), j + 1) + 1))
    scored = (cand.join(F.broadcast(lut_df), "cell")
              .withColumn(dist_col, dist)
              .drop("codes", "_lut", "cell"))
    shortlist = (scored.orderBy(F.col(dist_col).asc(),
                                F.col(id_col).asc())
                 .limit(k * refine_factor if refine_source is not None
                        else k))
    if refine_source is None:
        return shortlist
    fetched = (refine_source.select(id_col, vec_col)
               .join(F.broadcast(shortlist), id_col))
    return exact_refine_topk(fetched, qvec, k=k, vec_col=vec_col,
                             sim_col=sim_col,
                             tie_break=id_col).drop(dist_col, vec_col)


def pq_adc_stored_knn(spark, store: str, qvec: Sequence[float],
                      codebooks: list[list[list[float]]], k: int = 10,
                      dist_col: str = "adc_dist",
                      tie_break: str | None = None) -> DataFrame:
    """ADC top-k over a ``write_pq_codes`` store — the query path the
    compression exists for: the scan reads ONLY the code column (12
    bytes/row), the LUT inlines as a plan literal (m·ksub doubles), and
    the distance is a whole-stage-codegen ``aggregate`` over the code
    array: **no Python, no Arrow, no vector math at query time** — the
    plan pin asserts no MapInPandas/ArrowEval node exists.  Identical
    values to ``pq_adc_knn`` (same codes, same LUT; the encode happened
    at write time)."""
    lut = adc_lut(qvec, codebooks)
    lut_lit = F.array(*[F.array(*[F.lit(float(v)) for v in row])
                        for row in lut])
    m = len(codebooks)
    df = spark.read.parquet(store)
    dist = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0),
        lambda acc, j: acc + F.element_at(
            F.element_at(lut_lit, j + 1),
            F.element_at(F.col("codes"), j + 1) + 1))
    scored = df.withColumn(dist_col, dist)
    order = [F.col(dist_col).asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    return scored.orderBy(*order).limit(k).drop("codes")
