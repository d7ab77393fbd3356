"""Incremental IVFADC index maintenance: upsert equivalence with a
full rebuild, correct pruned serving after a cell-moving update,
tombstone deletes, and compaction back to the marker-free layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
NPROBE = 24


@pytest.fixture(scope="module")
def parts(spark):
    from openai_vector_search_demo_spark.ann_pretrained import (
        IVF_TRAINED_CENTROIDS,
    )
    from openai_vector_search_demo_spark.pq_residual_pretrained import (
        PQR_CODEBOOKS,
    )
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    base = emb.filter(F.col("vec_id") != 0)
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    return base, qvec, IVF_TRAINED_CENTROIDS, PQR_CODEBOOKS


def _knn(spark, store, qvec, cent, cb, k=10):
    from openai_vector_search_demo_spark.operators.pq import ivfpq_stored_knn
    return [(r.vec_id, round(r.adc_dist, 6)) for r in
            ivfpq_stored_knn(spark, store, qvec, cent, cb,
                             nprobe=NPROBE, k=k).collect()]


def _rows(spark, store):
    """Every row of an IVFPQ store: base plus manifest-named segments."""
    from openai_vector_search_demo_spark.operators.pq import _ivfpq_rows
    return _ivfpq_rows(spark, store)[1]


def test_upsert_half_equals_full_rebuild(spark, tmp_path, parts):
    from openai_vector_search_demo_spark.operators.pq import (
        upsert_ivfpq_index, write_ivfpq_index)
    base, qvec, cent, cb = parts
    full = str(tmp_path / "full")
    inc = str(tmp_path / "inc")
    write_ivfpq_index(base, full, cent, cb)
    write_ivfpq_index(base.filter(F.col("vec_id") % 2 == 1), inc, cent, cb)
    b = upsert_ivfpq_index(spark, base.filter(F.col("vec_id") % 2 == 0),
                           inc, cent, cb)
    assert b == 1
    assert _knn(spark, inc, qvec, cent, cb) == _knn(spark, full, qvec,
                                                    cent, cb)


def test_reupsert_same_rows_is_idempotent(spark, tmp_path, parts):
    from openai_vector_search_demo_spark.operators.pq import (
        upsert_ivfpq_index, write_ivfpq_index)
    base, qvec, cent, cb = parts
    store = str(tmp_path / "idem")
    write_ivfpq_index(base, store, cent, cb)
    before = _knn(spark, store, qvec, cent, cb)
    # re-upsert the current top-10 ids with their unchanged vectors
    ids = [v for v, _ in before]
    upsert_ivfpq_index(spark, base.filter(F.col("vec_id").isin(ids)),
                       store, cent, cb)
    assert _knn(spark, store, qvec, cent, cb) == before


def test_cell_moving_update_not_served_stale(spark, tmp_path, parts):
    """THE merge-on-read trap: replace the top hit's embedding with a
    far-away vector (different coarse cell).  A pruned probe of the old
    cell must NOT serve the stale version — the cell-local tombstone
    kills it."""
    from openai_vector_search_demo_spark.operators.pq import (
        upsert_ivfpq_index, write_ivfpq_index)
    base, qvec, cent, cb = parts
    store = str(tmp_path / "move")
    write_ivfpq_index(base, store, cent, cb)
    before = _knn(spark, store, qvec, cent, cb)
    top_id = before[0][0]
    # the moved version: the negated embedding (opposite cell geometry)
    moved = (base.filter(F.col("vec_id") == top_id)
             .withColumn("embedding",
                         F.transform("embedding", lambda x: -x)))
    upsert_ivfpq_index(spark, moved, store, cent, cb)
    after = _knn(spark, store, qvec, cent, cb)
    after_ids = [v for v, _ in after]
    assert top_id not in after_ids  # stale row tombstoned in its old cell
    assert after == _knn(spark, store, qvec, cent, cb)  # stable


def test_delete_tombstones_id_everywhere(spark, tmp_path, parts):
    from openai_vector_search_demo_spark.operators.pq import (
        upsert_ivfpq_index, write_ivfpq_index)
    base, qvec, cent, cb = parts
    store = str(tmp_path / "del")
    write_ivfpq_index(base, store, cent, cb)
    victim = _knn(spark, store, qvec, cent, cb)[0][0]
    upsert_ivfpq_index(spark,
                       base.filter(F.col("vec_id") == victim),
                       store, cent, cb, delete=True)
    assert victim not in [v for v, _ in _knn(spark, store, qvec, cent, cb)]


def test_ids_only_delete_batch_keeps_store_meta_schema(spark, tmp_path,
                                                       parts):
    """ADVICE r11: a delete batch carrying ONLY ids (the docstring-invited
    shape) must not append tombstone files with a narrower schema — a
    non-mergeSchema read that samples such a file's footer would silently
    drop the store's meta columns (e.g. label) for every row.  Tombstones
    now copy meta columns from the store rows they shadow."""
    from openai_vector_search_demo_spark.operators.pq import (
        upsert_ivfpq_index, write_ivfpq_index)
    base, qvec, cent, cb = parts
    labeled = base.withColumn(
        "label", F.concat(F.lit("doc-"), F.col("vec_id")))
    store = str(tmp_path / "meta")
    write_ivfpq_index(labeled, store, cent, cb)
    victim = _knn(spark, store, qvec, cent, cb)[0][0]
    ids_only = labeled.filter(F.col("vec_id") == victim).select("vec_id")
    upsert_ivfpq_index(spark, ids_only, store, cent, cb, delete=True)
    rows = _rows(spark, store)
    assert "label" in rows.columns
    # every file (including the tombstone batch) carries label populated
    assert rows.filter(F.col("label").isNull()).count() == 0
    tomb = rows.filter(F.col("tombstone"))
    assert tomb.count() >= 1
    assert tomb.filter(F.col("label") == f"doc-{victim}").count() >= 1
    assert victim not in [v for v, _ in _knn(spark, store, qvec, cent, cb)]


def test_compaction_resolves_and_clears_marker(spark, tmp_path, parts):
    from openai_vector_search_demo_spark.operators.pq import (
        compact_ivfpq_index, upsert_ivfpq_index, write_ivfpq_index)
    from openai_vector_search_demo_spark.stores import (
        SEGMENTS,
        read_manifest,
    )
    base, qvec, cent, cb = parts
    store = str(tmp_path / "pre")
    write_ivfpq_index(base.filter(F.col("vec_id") % 2 == 1), store,
                      cent, cb)
    upsert_ivfpq_index(spark, base.filter(F.col("vec_id") % 2 == 0),
                       store, cent, cb)
    served = _knn(spark, store, qvec, cent, cb)
    dest = str(tmp_path / "compacted")
    compact_ivfpq_index(spark, store, dest)
    assert len(read_manifest(spark, store, SEGMENTS)["segments"]) == 1
    assert read_manifest(spark, dest, SEGMENTS) is None
    # compacted store: same answers, one version per id, no tombstones
    assert _knn(spark, dest, qvec, cent, cb) == served
    rows = spark.read.option("basePath", dest).parquet(dest)
    assert rows.groupBy("vec_id").count().agg(
        F.max("count")).first()[0] == 1
    assert rows.filter(F.col("tombstone")).count() == 0


def test_upsert_killed_before_manifest_swap_serves_previous_version(
        spark, tmp_path, parts, monkeypatch):
    """An upsert killed after its segment is written but before the
    manifest swap leaves the store at its previous version, and a retry
    serves what an uninterrupted upsert serves."""
    from openai_vector_search_demo_spark import stores
    from openai_vector_search_demo_spark.operators.pq import (
        upsert_ivfpq_index, write_ivfpq_index)
    base, qvec, cent, cb = parts
    odd = base.filter(F.col("vec_id") % 2 == 1)
    even = base.filter(F.col("vec_id") % 2 == 0)
    store = str(tmp_path / "live")
    write_ivfpq_index(odd, store, cent, cb)
    before = _knn(spark, store, qvec, cent, cb)
    rows_before = sorted(map(tuple, _rows(spark, store).collect()))

    def killed(*args, **kwargs):
        raise RuntimeError("killed before the manifest swap")

    with monkeypatch.context() as mp:
        mp.setattr(stores, "swap_manifest", killed)
        with pytest.raises(RuntimeError, match="manifest swap"):
            upsert_ivfpq_index(spark, even, store, cent, cb)
    assert [p for p in (tmp_path / "live").iterdir()
            if p.name.startswith("_seg-")], "no segment was written"
    assert stores.read_manifest(spark, store, stores.SEGMENTS) is None
    assert _knn(spark, store, qvec, cent, cb) == before
    assert sorted(map(tuple, _rows(spark, store).collect())) == rows_before

    assert upsert_ivfpq_index(spark, even, store, cent, cb) == 1
    clean = str(tmp_path / "clean")
    write_ivfpq_index(odd, clean, cent, cb)
    upsert_ivfpq_index(spark, even, clean, cent, cb)
    assert _knn(spark, store, qvec, cent, cb) == \
        _knn(spark, clean, qvec, cent, cb)


def test_upsert_on_file_uri_store_serves_bare_path_answer(spark, tmp_path,
                                                          parts):
    """Upsert and serve on a ``file://`` store URI answer exactly what
    the same calls answer on the bare path."""
    from openai_vector_search_demo_spark.operators.pq import (
        upsert_ivfpq_index, write_ivfpq_index)
    base, qvec, cent, cb = parts
    answers = []
    for store in (str(tmp_path / "bare"), "file://" + str(tmp_path / "uri")):
        write_ivfpq_index(base.filter(F.col("vec_id") % 2 == 1), store,
                          cent, cb)
        upsert_ivfpq_index(spark, base.filter(F.col("vec_id") % 2 == 0),
                           store, cent, cb)
        answers.append(_knn(spark, store, qvec, cent, cb))
    assert answers[0] == answers[1] and len(answers[0]) == 10


@pytest.mark.slow
def test_stream_upsert_converges_to_full_rebuild(spark, tmp_path, parts):
    """Streaming index maintenance: two parquet drops flow through
    foreachBatch upserts; the store must serve the full-rebuild values,
    and a checkpointed re-run must be a no-op (exactly-once batches)."""
    from openai_vector_search_demo_spark.operators.pq import (
        write_ivfpq_index)
    from openai_vector_search_demo_spark.streaming.jobs import (
        read_embedding_stream, stream_upsert_ivfpq_index)
    base, qvec, cent, cb = parts
    full = str(tmp_path / "s_full")
    store = str(tmp_path / "s_inc")
    src = str(tmp_path / "s_src")
    ck = str(tmp_path / "s_ck")
    write_ivfpq_index(base, full, cent, cb)
    # seed store: first half at write time
    write_ivfpq_index(base.filter(F.col("vec_id") % 2 == 1), store,
                      cent, cb)
    # two drops: second half, then a re-delivery-style overlap
    (base.filter(F.col("vec_id") % 2 == 0)
     .write.mode("append").parquet(src))
    stream_upsert_ivfpq_index(
        read_embedding_stream(spark, src), store, ck, cent, cb) \
        .start().awaitTermination(120)
    (base.filter(F.col("vec_id") <= 50)
     .write.mode("append").parquet(src))
    stream_upsert_ivfpq_index(
        read_embedding_stream(spark, src), store, ck, cent, cb) \
        .start().awaitTermination(120)
    want = _knn(spark, full, qvec, cent, cb)
    assert _knn(spark, store, qvec, cent, cb) == want
    # same checkpoint, no new files: no batch written
    from openai_vector_search_demo_spark.stores import (
        SEGMENTS,
        read_manifest,
    )
    manifest_before = read_manifest(spark, store, SEGMENTS)
    assert manifest_before["segments"]
    stream_upsert_ivfpq_index(
        read_embedding_stream(spark, src), store, ck, cent, cb) \
        .start().awaitTermination(120)
    assert read_manifest(spark, store, SEGMENTS) == manifest_before
    assert _knn(spark, store, qvec, cent, cb) == want


@pytest.mark.slow
def test_tenant_store_serves_tenant_only(spark, tmp_path, parts):
    """Per-alias tenant isolation on the IVFADC tier (VERDICT r13 #4):
    a tenant-first-partitioned store serves, for tenant 0, exactly
    what a dedicated store built from tenant 0's vectors alone serves
    — and the tenant read's input files all live under tenant=0/."""
    from openai_vector_search_demo_spark.operators.pq import (
        ivfpq_stored_knn,
        write_ivfpq_index,
    )
    base, qvec, cent, cb = parts
    tdf = base.withColumn(
        "tenant", F.pmod(F.col("label"), F.lit(2)).cast("string"))
    shared = str(tmp_path / "ivfpq_ten")
    write_ivfpq_index(tdf, shared, cent, cb,
                      keep_cols=["vec_id", "label"], tenant_col="tenant")
    solo = str(tmp_path / "ivfpq_solo")
    write_ivfpq_index(tdf.filter(F.col("tenant") == "0").drop("tenant"),
                      solo, cent, cb, keep_cols=["vec_id", "label"])
    got = [(r.vec_id, round(r.adc_dist, 6)) for r in
           ivfpq_stored_knn(spark, shared, qvec, cent, cb,
                            nprobe=NPROBE, k=10, tenant="0").collect()]
    want = [(r.vec_id, round(r.adc_dist, 6)) for r in
            ivfpq_stored_knn(spark, solo, qvec, cent, cb,
                             nprobe=NPROBE, k=10).collect()]
    assert got == want and len(got) == 10
    files0 = spark.read.parquet(f"{shared}/tenant=0").inputFiles()
    files1 = spark.read.parquet(f"{shared}/tenant=1").inputFiles()
    assert files0 and files1 and not set(files0) & set(files1)
    assert all("tenant=0" in f for f in files0)


def test_write_over_empty_input_raises_and_leaves_no_store(
        spark, tmp_path, parts, store_root):
    """A store with zero rows holds no parquet file, so no reader could
    open it: the write raises instead, names the empty input, and
    leaves nothing at the path — under ``open_or_build`` nothing is
    published either."""
    from openai_vector_search_demo_spark.operators.pq import (
        write_ivfpq_index,
    )
    from openai_vector_search_demo_spark.stores import open_or_build
    base, _, cent, cb = parts
    for tag, frame in [("empty", base.limit(0)),
                       ("nulls", base.limit(3).withColumn(
                           "embedding", F.lit(None).cast("array<float>")))]:
        store = str(tmp_path / tag)
        with pytest.raises(ValueError, match="no non-null, nonzero"):
            write_ivfpq_index(frame, store, cent, cb)
        assert not os.path.exists(store)
    with pytest.raises(ValueError, match="no non-null, nonzero"):
        open_or_build(spark, "ivfpq_empty", 1, [],
                      lambda path: write_ivfpq_index(base.limit(0), path,
                                                     cent, cb))
    assert os.listdir(store_root) == []
