"""NSW graph-ANN invariants: exact graph build (vs brute force), salt
split exactness, beam boundedness/monotonicity, full-connectivity limit,
stored==inline, and the store's byte budget (no vectors)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.operators.nsw import (
    _STORE_SCHEMA,
    beam_search_knn,
    build_knn_graph,
    nsw_knn,
    nsw_serving_params,
    nsw_stored_knn,
    write_nsw_index,
)

DIM = 8
N = 40


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(5)
    rows = [(i, i % 3, [round(float(x), 6) for x in rng.randn(DIM)])
            for i in range(1, N + 1)]
    rows.append((N + 1, 0, None))  # NULL embedding must drop, not crash
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")


def _brute_graph(emb, m):
    rows = [(r.vec_id, np.array(r.embedding)) for r in emb.collect()
            if r.embedding is not None]
    ids = np.array([i for i, _ in rows])
    mat = np.array([v for _, v in rows])
    unit = mat / np.linalg.norm(mat, axis=1)[:, None]
    sims = np.round(unit @ unit.T, 6)
    out = {}
    for a in range(len(ids)):
        order = sorted((c for c in range(len(ids)) if c != a),
                       key=lambda c: (-sims[a, c], ids[c]))
        out[int(ids[a])] = [int(ids[c]) for c in order[:m]]
    return out


def _stored_rows(spark, path):
    """Every row of a store's base graph: the base plus the segments
    its manifest names."""
    from openai_vector_search_demo_spark.operators.nsw import (
        _layer_rows,
        read_l1_meta,
    )
    return _layer_rows(spark, path, read_l1_meta(spark, path))


def _spy_untrusted(monkeypatch):
    """Record, per stored serve, whether its base lookup took the
    untrusted merge-on-read path."""
    from openai_vector_search_demo_spark.operators import nsw

    seen, real = [], nsw._stored_adj

    def spy(spark, path, meta, layer, delta, m):
        if layer == "":
            seen.append(delta)
        return real(spark, path, meta, layer, delta, m)

    monkeypatch.setattr(nsw, "_stored_adj", spy)
    return seen


def test_graph_build_matches_brute_force(emb):
    want = _brute_graph(emb, m=4)
    got = {}
    edges = build_knn_graph(emb, m=4).collect()
    for r in sorted(edges, key=lambda r: (r.src, -r.sim, r.dst)):
        got.setdefault(r.src, []).append(r.dst)
    assert got == want


def test_salt_split_build_is_exact(emb):
    """Forcing many shard-pair tasks must not change the graph — the
    per-block top-m union provably contains the true top-m."""
    want = {(r.src, r.dst) for r in build_knn_graph(emb, m=3).collect()}
    got = {(r.src, r.dst) for r in
           build_knn_graph(emb, m=3, max_block_rows=7).collect()}
    assert got == want


def test_beam_visits_are_graph_bounded(emb):
    """The answer set must come from seeds + expanded adjacency only —
    rounds·ef·M is the whole candidate budget."""
    edges = build_knn_graph(emb, m=3)
    adj = {}
    for r in edges.collect():
        adj.setdefault(r.src, []).append(r.dst)
    reach = set(seeds := [1, 5, 9])
    frontier = list(seeds)
    for _ in range(2):
        new = {d for s in frontier for d in adj.get(s, [])} - reach
        reach |= new
        frontier = list(new)
    got = {r.vec_id for r in
           beam_search_knn(edges, emb, [0.2] * DIM, k=40, ef=4,
                           rounds=2, seeds=seeds).collect()}
    assert got <= reach


def test_full_beam_recovers_exact_topk(emb):
    """With a complete graph (m = n-1) and one round, the beam scores
    every node — the answer must equal exact brute-force KNN."""
    from openai_vector_search_demo_spark.operators.knn import knn
    base = emb.filter(F.col("embedding").isNotNull())
    qvec = [0.3] * DIM
    exact = [r.vec_id for r in
             knn(base, qvec, k=10, sim_col="sim",
                 tie_break="vec_id").collect()]
    edges = build_knn_graph(emb, m=N - 1)
    got = [r.vec_id for r in
           beam_search_knn(edges, base, qvec, k=10, ef=N,
                           rounds=1, seeds=[1]).collect()]
    assert got == exact


def test_stored_path_equals_inline(spark, emb, tmp_path):
    qvec = [0.1] * DIM
    store = str(tmp_path / "nsw")
    write_nsw_index(emb, store, m=3)
    inline = [(r.vec_id, r.similarity) for r in
              nsw_knn(emb, qvec, k=10, m=3, ef=5, rounds=2,
                      seeds=[1, 9]).collect()]
    stored = [(r.vec_id, r.similarity) for r in
              nsw_stored_knn(spark, store, emb, qvec, k=10, ef=5,
                             rounds=2, seeds=[1, 9]).collect()]
    assert stored == inline


def test_store_holds_edges_not_vectors(spark, emb, tmp_path):
    store = str(tmp_path / "nsw")
    write_nsw_index(emb, store, m=3)
    stored = spark.read.parquet(store)
    assert set(stored.columns) == {"src", "dst", "sim", "fwd", "bucket"}
    # every node has exactly m canonical out-edges (fwd); mirror rows
    # land under the other endpoint's bucket for pruned reverse lookup
    counts = stored.filter(F.col("fwd")).groupBy("src").count().collect()
    assert all(r["count"] == 3 for r in counts) and len(counts) == N
    fwd = {(r.src, r.dst) for r in stored.filter(F.col("fwd")).collect()}
    rev = {(r.dst, r.src) for r in stored.filter(~F.col("fwd")).collect()}
    assert fwd == rev


@pytest.mark.slow
def test_upsert_equals_full_rebuild(spark, emb, tmp_path):
    """Insert-only maintenance is EXACT: the upserted store's resolved
    adjacency and beam answer must equal a full rebuild over C∪B."""
    from openai_vector_search_demo_spark.operators.nsw import (
        upsert_nsw_index,
    )
    base = emb.filter(F.col("embedding").isNotNull())
    corpus = base.filter(F.col("vec_id") % 4 != 1)
    batch = base.filter(F.col("vec_id") % 4 == 1)
    inc = str(tmp_path / "inc")
    write_nsw_index(corpus, inc, m=3)
    upsert_nsw_index(spark, inc, batch, corpus, m=3)
    full = str(tmp_path / "full")
    write_nsw_index(base, full, m=3)

    qvec = [0.25] * DIM
    got = [(r.vec_id, r.similarity) for r in
           nsw_stored_knn(spark, inc, base, qvec, k=10, ef=5, rounds=2,
                          seeds=[2, 10], m=3).collect()]
    want = [(r.vec_id, r.similarity) for r in
            nsw_stored_knn(spark, full, base, qvec, k=10, ef=5, rounds=2,
                           seeds=[2, 10], m=3).collect()]
    assert got == want

    # the resolved adjacency itself must match, node by node
    from pyspark.sql import Window
    wm = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                           F.col("dst").asc())

    def resolved(path):
        rows = (_stored_rows(spark, path).filter(F.col("fwd"))
                .withColumn("_rn", F.row_number().over(wm))
                .filter(F.col("_rn") <= 3).collect())
        out = {}
        for r in sorted(rows, key=lambda r: (r.src, r._rn)):
            out.setdefault(r.src, []).append(r.dst)
        return out

    assert resolved(inc) == resolved(full)


def test_upsert_replay_is_idempotent(spark, emb, tmp_path):
    """At-least-once replay safety, end to end: applying the SAME batch
    upsert twice (the edge-append replay a foreachBatch retry produces)
    must leave the resolved adjacency and the beam answer identical to
    a single application — byte-identical duplicate rows collapse under
    the dense_rank merge-on-read resolution."""
    from openai_vector_search_demo_spark.operators.nsw import (
        resolve_stored_edges,
        upsert_nsw_index,
    )
    base = emb.filter(F.col("embedding").isNotNull())
    corpus = base.filter(F.col("vec_id") % 4 != 1)
    batch = base.filter(F.col("vec_id") % 4 == 1)
    once = str(tmp_path / "once")
    twice = str(tmp_path / "twice")
    for path in (once, twice):
        write_nsw_index(corpus, path, m=3)
        upsert_nsw_index(spark, path, batch, corpus, m=3)
    upsert_nsw_index(spark, twice, batch, corpus, m=3)

    def adjacency(path):
        rows = resolve_stored_edges(spark, path, m=3).collect()
        return {(r.src, r.dst) for r in rows}

    assert adjacency(twice) == adjacency(once)
    qvec = [0.25] * DIM
    got = [(r.vec_id, r.similarity) for r in
           nsw_stored_knn(spark, twice, base, qvec, k=10, ef=5, rounds=2,
                          seeds=[2, 10], m=3).collect()]
    want = [(r.vec_id, r.similarity) for r in
            nsw_stored_knn(spark, once, base, qvec, k=10, ef=5, rounds=2,
                           seeds=[2, 10], m=3).collect()]
    assert got == want


@pytest.mark.slow
def test_batched_beam_equals_per_query_beam(spark, emb):
    """The qid-keyed batched beam must return, per query, exactly what
    the single-query beam returns — same seeds/ef/rounds, same ranks."""
    from openai_vector_search_demo_spark.operators.nsw import (
        beam_search_knn_batch,
    )
    base = emb.filter(F.col("embedding").isNotNull())
    edges = build_knn_graph(base, m=3)
    queries = spark.createDataFrame(
        [(100, [0.3] * DIM), (200, [-0.2] * DIM)],
        "qid long, qv array<double>")
    got = {}
    for r in beam_search_knn_batch(edges, base, queries, k=5, ef=4,
                                   rounds=2, seeds=[1, 9]).collect():
        got.setdefault(r.qid, []).append((r.vec_id, r.similarity))
    for qid, qv in [(100, [0.3] * DIM), (200, [-0.2] * DIM)]:
        want = [(r.vec_id, r.similarity) for r in
                beam_search_knn(edges, base, qv, k=5, ef=4, rounds=2,
                                seeds=[1, 9]).collect()]
        assert got[qid] == want, qid


def test_soft_delete_ghosts_keep_carrying_the_beam(spark, tmp_path):
    """Tombstoned nodes must never be returned but MUST stay
    traversable: on a chain graph where the only path to the best
    region runs through a deleted node, the beam still gets there."""
    from openai_vector_search_demo_spark.operators.nsw import (
        delete_from_nsw_index,
        nsw_stored_knn,
        read_nsw_deletes,
    )
    from openai_vector_search_demo_spark.stores import swap_manifest
    import pandas as pd  # noqa: F401

    # chain 1-2-3-4-5 embedded on a line: cosine to q=[1,0] decreases
    # with angle; node 3 is the bridge
    import math as _m
    rows = [(i, 0, [_m.cos(0.1 * i), _m.sin(0.1 * i)])
            for i in range(1, 6)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    store = str(tmp_path / "nsw")
    # hand-build a pure chain adjacency (src-bucketed like the writer)
    edges = spark.createDataFrame(
        [(a, b, 0.0, True) for a, b in
         [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 5),
          (5, 4)]], "src long, dst long, sim double, fwd boolean")
    (edges.withColumn("bucket", (F.col("src") % 4).cast("int"))
     .write.mode("overwrite").partitionBy("bucket").parquet(store))
    # the manifest records the base's bucket count, as the writer's does
    swap_manifest(spark, store, "_L1_META", {"buckets": {"": 4}})
    delete_from_nsw_index(spark, store, [3])
    assert read_nsw_deletes(spark, store) == [3]

    # seed at node 5 (worst), q favors node 1; reaching 1 REQUIRES
    # passing ghost 3
    got = [r.vec_id for r in
           nsw_stored_knn(spark, store, df, [1.0, 0.0], k=5, ef=2,
                          rounds=4, seeds=[5],
                          m=2).collect()]
    assert 3 not in got          # never returned
    assert got[0] == 1           # but the beam crossed it


def test_tombstones_honored_on_file_uri_store(spark, emb, tmp_path):
    """A store addressed by a ``file://`` URI must serve its soft
    deletes: the tombstone check goes through the Hadoop FileSystem, so
    the query's own nearest id, once deleted, is never returned."""
    from openai_vector_search_demo_spark.operators.nsw import (
        delete_from_nsw_index,
        read_nsw_deletes,
    )
    store = "file://" + str(tmp_path / "nsw")
    write_nsw_index(emb, store, m=3)
    qvec = emb.filter(F.col("vec_id") == 7).first().embedding

    def serve():
        return [r.vec_id for r in
                nsw_stored_knn(spark, store, emb, qvec, k=10, ef=N,
                               rounds=3, seeds=[2, 10],
                               m=3).collect()]
    best = serve()[0]
    assert best == 7
    delete_from_nsw_index(spark, store, [best])
    assert read_nsw_deletes(spark, store) == [best]
    got = serve()
    assert best not in got and len(got) == 10


def test_duplicate_multiplicity_disconnects_graph(spark):
    """The pipeline-order lesson (SCALE.md): when duplicate multiplicity
    exceeds M, the exact kNN graph shatters into per-duplicate-group
    cliques and beam navigation cannot cross them; dedup-first restores
    one navigable component.  Pinned on a synthetic: 8 groups × 5
    near-replicas, M=3."""
    import collections

    import numpy as np

    rng = np.random.RandomState(13)
    centers = rng.randn(8, DIM)
    rows = []
    vid = 1
    for g in range(8):
        for r in range(5):
            v = centers[g] + 0.001 * rng.randn(DIM)
            rows.append((vid, g, [round(float(x), 6) for x in v]))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")

    def components(edges_df):
        adj = collections.defaultdict(list)
        for r in edges_df.collect():
            adj[r.src].append(r.dst)
            adj[r.dst].append(r.src)
        seen, comps = set(), []
        for n in list(adj):
            if n in seen:
                continue
            stack, size = [n], 0
            while stack:
                x = stack.pop()
                if x in seen:
                    continue
                seen.add(x)
                size += 1
                stack.extend(adj[x])
            comps.append(size)
        return sorted(comps)

    raw = components(build_knn_graph(df, m=3))
    assert raw == [5] * 8          # one clique per replica group

    dedup = df.filter(F.col("vec_id") % 5 == 1)  # one survivor per group
    assert len(components(build_knn_graph(dedup, m=3))) == 1


def test_null_embeddings_absent_from_graph(emb):
    edges = build_knn_graph(emb, m=3)
    ids = {r.src for r in edges.collect()} | {r.dst for r in edges.collect()}
    assert N + 1 not in ids


def test_nsw_serving_params_autoscale():
    from openai_vector_search_demo_spark.operators.nsw import (
        nsw_serving_params,
    )
    # v4 (r15): ef and rounds are CONSTANTS — per-query work must not
    # scale with n (VERDICT r14 #1); only the hierarchy geometry
    # (stride = ceil(sqrt(n))) tracks the corpus
    assert nsw_serving_params(480) == (22, 160, 8)    # sf0.01 held-out
    assert nsw_serving_params(1980) == (45, 160, 8)   # sf0.1 held-out
    assert nsw_serving_params(49) == (7, 160, 8)
    assert nsw_serving_params(1) == (2, 160, 8)       # degenerate corpus
    assert nsw_serving_params(10 ** 9)[1:] == (160, 8)  # flat in n


def test_symmetric_traversal_uses_reverse_edges(spark):
    """A spoke reachable ONLY via a reverse edge: c's nearest is b, but
    nobody's out-list points at c.  Directed traversal from a never
    finds c; the v2 symmetric traversal must."""
    import math as _m
    # angles: a=0, b=0.1, c=0.25 rad on the unit circle; m=1 out-lists:
    # a->b, b->a (closer than c), c->b — no out-edge enters c.
    rows = [(1, 0, [_m.cos(0.0), _m.sin(0.0)]),
            (2, 0, [_m.cos(0.1), _m.sin(0.1)]),
            (3, 0, [_m.cos(0.25), _m.sin(0.25)])]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    edges = build_knn_graph(df, m=1)
    out = {(r.src, r.dst) for r in edges.collect()}
    assert out == {(1, 2), (2, 1), (3, 2)}
    qvec = [_m.cos(0.3), _m.sin(0.3)]  # favors c
    directed = {r.vec_id for r in
                beam_search_knn(edges, df, qvec, k=3, ef=3, rounds=3,
                                seeds=[1]).collect()}
    assert 3 not in directed
    sym = {r.vec_id for r in
           nsw_knn(df, qvec, k=3, m=1, ef=3, rounds=3,
                   seeds=[1]).collect()}
    assert 3 in sym


@pytest.mark.slow
def test_coarse_entry_stored_equals_inline(spark, emb, tmp_path):
    """The full v2 serving path — coarse entry + symmetric stored
    lookup — must equal the inline build+search with the same knobs."""
    from openai_vector_search_demo_spark.operators.nsw import (
        beam_search_knn_batch,
        symmetrize_edges,
    )
    qvec = [0.15] * DIM
    store = str(tmp_path / "nsw")
    write_nsw_index(emb, store, m=3)
    inline = [(r.vec_id, r.similarity) for r in
              nsw_knn(emb, qvec, k=10, m=3, ef=6, rounds=2,
                      stride=5, n_entry=3).collect()]
    stored = [(r.vec_id, r.similarity) for r in
              nsw_stored_knn(spark, store, emb, qvec, k=10, ef=6,
                             rounds=2, m=3, stride=5,
                             n_entry=3).collect()]
    assert stored == inline
    # the batched form with the same coarse entry returns the same rows
    base = emb.filter(F.col("embedding").isNotNull())
    edges = symmetrize_edges(build_knn_graph(base, m=3))
    queries = spark.createDataFrame([(7, qvec)], "qid long, qv array<double>")
    batched = [(r.vec_id, r.similarity) for r in
               beam_search_knn_batch(edges, base, queries, k=10, ef=6,
                                     rounds=2, flat_mod=5,
                                     n_entry=3).collect()]
    assert batched == inline


@pytest.mark.slow
def test_stale_mirrors_filtered_after_upsert(spark, emb, tmp_path):
    """Upsert displacement leaves fwd=false mirror rows whose canonical
    edge is gone; the stored lookup's validation must keep the beam on
    the exact rebuilt graph — visited closures over the upserted and
    the rebuilt store must be identical."""
    from openai_vector_search_demo_spark.operators.nsw import (
        resolve_stored_edges,
        upsert_nsw_index,
    )
    base = emb.filter(F.col("embedding").isNotNull())
    corpus = base.filter(F.col("vec_id") % 4 != 1)
    batch = base.filter(F.col("vec_id") % 4 == 1)
    inc = str(tmp_path / "inc")
    write_nsw_index(corpus, inc, m=3)
    upsert_nsw_index(spark, inc, batch, corpus, m=3)
    full = str(tmp_path / "full")
    write_nsw_index(base, full, m=3)

    # vacuity guard: the upserted store DOES carry stale mirrors
    resolved_sym = {(r.src, r.dst) for r in
                    resolve_stored_edges(spark, inc, m=3).collect()}
    raw_rev = {(r.src, r.dst) for r in
               _stored_rows(spark, inc).filter(~F.col("fwd")).collect()}
    assert raw_rev - resolved_sym, "no stale mirror — test is vacuous"

    qvec = [0.2] * DIM
    got = [(r.vec_id, r.similarity) for r in
           nsw_stored_knn(spark, inc, base, qvec, k=N, ef=N, rounds=4,
                          m=3, stride=5).collect()]
    want = [(r.vec_id, r.similarity) for r in
            nsw_stored_knn(spark, full, base, qvec, k=N, ef=N, rounds=4,
                           m=3, stride=5).collect()]
    assert got == want


def test_sharded_build_single_cell_equals_global(spark, emb):
    """With one super-cell the sharded build degenerates to the global
    exact build — same edge set, same sims."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.nsw import (
        build_knn_graph_sharded,
    )
    rng = np.random.RandomState(7)
    cent = [[round(float(x), 6) for x in rng.randn(DIM)] for _ in range(4)]
    want = {(r.src, r.dst, r.sim) for r in
            build_knn_graph(emb, m=3).collect()}
    got = {(r.src, r.dst, r.sim) for r in
           build_knn_graph_sharded(emb, cent, m=3, n_cells=1,
                                   n_assign=1).collect()}
    assert got == want


def test_sharded_build_edges_stay_within_shared_cells(spark, emb):
    """n_assign=1: every edge's endpoints must share the argmax
    super-cell — the cell-bounded contract (and the reason boundary
    replication exists)."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.nsw import (
        build_knn_graph_sharded,
    )
    rng = np.random.RandomState(11)
    cent = np.round(rng.randn(8, DIM), 6)
    rows = [(r.vec_id, np.array(r.embedding)) for r in emb.collect()
            if r.embedding is not None]
    sup = {}
    for i, v in rows:
        u = v / np.linalg.norm(v)
        dots = u @ cent.T
        scores = np.full(4, -np.inf)
        for j in range(8):
            scores[j % 4] = max(scores[j % 4], dots[j])
        order = np.lexsort((np.arange(4), -scores))
        sup[i] = int(order[0])
    edges = build_knn_graph_sharded(
        emb, [list(map(float, c)) for c in cent], m=3, n_cells=4,
        n_assign=1).collect()
    assert edges, "no edges built"
    for r in edges:
        assert sup[r.src] == sup[r.dst], (r.src, r.dst)


@pytest.mark.slow
def test_tenant_store_isolation(spark, emb, tmp_path):
    """Per-alias physical isolation (VERDICT r13 #4): a tenant's serve
    opens ONLY its own subtree — the other tenant's files are never in
    the read's input set — and equals the inline build over that
    tenant's vectors alone (cross-tenant edges cannot exist)."""
    from openai_vector_search_demo_spark.operators.nsw import (
        nsw_tenant_path,
        write_nsw_index_tenants,
    )
    store = str(tmp_path / "nswten")
    tdf = emb.withColumn(
        "tenant", F.pmod(F.col("label"), F.lit(2)).cast("string"))
    tenants = write_nsw_index_tenants(tdf, store, tenant_col="tenant",
                                      m=3)
    assert tenants == ["0", "1"]
    base0 = tdf.filter(F.col("tenant") == "0").drop("tenant")
    qvec = [0.15] * DIM
    stored = [(r.vec_id, r.similarity) for r in
              nsw_stored_knn(spark, nsw_tenant_path(store, "0"), base0,
                             qvec, k=10, ef=6, rounds=2,
                             m=3, stride=5, n_entry=3).collect()]
    inline = [(r.vec_id, r.similarity) for r in
              nsw_knn(base0, qvec, k=10, m=3, ef=6, rounds=2,
                      stride=5, n_entry=3).collect()]
    assert stored == inline
    # structural prune: every file the tenant-0 read can touch lives
    # under tenant=0/; tenant=1's subtree exists and is disjoint
    files0 = spark.read.parquet(nsw_tenant_path(store, "0")).inputFiles()
    files1 = spark.read.parquet(nsw_tenant_path(store, "1")).inputFiles()
    assert files0 and files1
    assert all("tenant=0" in f for f in files0)
    assert not set(files0) & set(files1)


@pytest.mark.slow
def test_filtered_ef_widening():
    """The predicate-aware widening rule: expected per-round match
    count reaches k, clamped to [1, cap]·ef; empty predicates take the
    cap rather than diverging."""
    from openai_vector_search_demo_spark.operators.nsw import (
        nsw_filtered_ef,
    )
    assert nsw_filtered_ef(68, 22, 1999, k=10, cap=4) == 68 * 4
    assert nsw_filtered_ef(68, 196, 1999, k=10, cap=4) == 68 * 2
    assert nsw_filtered_ef(68, 995, 1999, k=10, cap=4) == 68
    assert nsw_filtered_ef(68, 0, 1999, k=10, cap=4) == 68 * 4


def _hier_fixture(spark):
    """The 400-vector fixture whose level 1 holds 20 ≥ NSW_HIER_FLOOR
    nodes, so entry descends a real graph level."""
    rng = np.random.RandomState(7)
    return spark.createDataFrame(
        [(i, i % 4, [round(float(x), 6) for x in rng.randn(DIM)])
         for i in range(1, 401)],
        "vec_id long, label int, embedding array<double>")


@pytest.mark.slow
def test_hierarchical_entry_stored_equals_inline(spark, tmp_path):
    """The v3 HIERARCHICAL path proper (n1 >= NSW_HIER_FLOOR, so the
    L2-scan + L1-beam entry actually engages, unlike the small-fixture
    flat degenerations elsewhere): stored serving off _L1/_L1_META
    must equal the inline build+search with the same autoscale, and
    the store must carry the L1 layer."""
    from openai_vector_search_demo_spark.operators.nsw import (
        nsw_serving_params,
        read_l1_meta,
    )
    big = _hier_fixture(spark)
    n = 400
    stride, ef, rounds = nsw_serving_params(n)   # stride 20 -> n1 = 20
    store = str(tmp_path / "nswh")
    write_nsw_index(big, store, m=3)
    meta = read_l1_meta(spark, store)
    assert meta is not None and meta["stride"] == stride
    assert meta["counts"][0] >= 16, "fixture must engage the hierarchical path"
    qvec = [0.2] * DIM
    stored = [(r.vec_id, r.similarity) for r in
              nsw_stored_knn(spark, store, big, qvec, k=10, ef=ef,
                             rounds=rounds, m=3,
                             stride=stride).collect()]
    inline = [(r.vec_id, r.similarity) for r in
              nsw_knn(big, qvec, k=10, m=3, ef=ef, rounds=rounds,
                      stride=stride).collect()]
    assert stored == inline and len(stored) == 10


def test_both_engines_serve_the_same_answer_and_visited_set(spark):
    """One entry form and one stop rule: on the hierarchical fixture the
    relational batch engine and the driver-side engine return, per
    query, the same top-10 and the same whole visited set — with the
    stop rule on and off — and so does a flat entry at a stride other
    than ⌈√n⌉."""
    from openai_vector_search_demo_spark.operators.nsw import (
        NSW_STOP_K,
        beam_search_knn_batch,
        inline_levels,
        symmetrize_edges,
    )
    big = _hier_fixture(spark)
    edges = symmetrize_edges(build_knn_graph(big, m=3)).localCheckpoint()
    levels, flat_mod = inline_levels(big, 400, m=3)
    assert len(levels) == 1 and flat_mod == 20 * 5
    levels = [(lv.localCheckpoint(), mod) for lv, mod in levels]
    qvecs = {100: [0.2] * DIM, 200: [(-1) ** i * 0.3 for i in range(DIM)]}
    queries = spark.createDataFrame(list(qvecs.items()),
                                    "qid long, qv array<double>")
    visited_sizes = {}
    for entry, stop_k in [((levels, flat_mod), NSW_STOP_K),
                          ((levels, flat_mod), None),
                          (([], 7), NSW_STOP_K)]:
        kw = dict(k=1 << 20, ef=16, rounds=8, n_entry=4,
                  hier_levels=entry[0], flat_mod=entry[1], stop_k=stop_k)
        batch = {}
        for r in beam_search_knn_batch(edges, big, queries,
                                       **kw).collect():
            batch.setdefault(r.qid, []).append((r.rank, r.vec_id,
                                                r.similarity))
        for qid, qv in qvecs.items():
            got = [(v, s) for _, v, s in sorted(batch[qid])]
            want = [(r.vec_id, r.similarity) for r in
                    beam_search_knn(edges, big, qv, **kw).collect()]
            assert got[:10] == want[:10], (qid, entry[1], stop_k)
            assert set(got) == set(want), (qid, entry[1], stop_k)
            visited_sizes[(qid, entry[1], stop_k)] = len(want)
    # the stop rule fired: it ended some beam before its last round
    assert any(visited_sizes[(q, flat_mod, NSW_STOP_K)]
               < visited_sizes[(q, flat_mod, None)] for q in qvecs)


def _jobs_of(spark, group, fn):
    """(fn(), the ids of the Spark jobs it ran), from the status tracker
    per job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_stored_serve_job_budget(spark, tmp_path, monkeypatch):
    """One stored serve's Spark jobs on the hierarchical fixture.  At the
    serving ef its 400-node base is no bigger than one base round can
    score (400 ≤ ef·2M = 160·2·3), so the entry job reads the whole
    store — every score and every layer's adjacency — and the rounds
    run none: ONE job per serve, with the stop rule on and off.  At
    ef = 16 (ef·2M = 96 < 400) the entry job reads the deepest level's
    scores and adjacency and the base adjacency of that level's nodes,
    so the level's descent rounds run none, then one job per base
    round.  No parquet schema-inference job (the store schema is
    fixed), and the answer is a local relation, so collecting it runs
    no job at all.  Counted from the status tracker per job group;
    base rounds are counted by the stop rule, which every base round
    that scored a newcomer reaches."""
    from openai_vector_search_demo_spark.operators import nsw

    big = _hier_fixture(spark)
    store = str(tmp_path / "nswh")
    write_nsw_index(big, store, m=3)
    stride, ef, rounds = nsw_serving_params(400)
    assert 16 * 2 * 3 < 400 <= ef * 2 * 3
    st = spark.sparkContext.statusTracker()
    calls, real = [], nsw.nsw_converged
    monkeypatch.setattr(nsw, "nsw_converged",
                        lambda *a: calls.append(a) or real(*a))

    def serve(group, **kw):
        return _jobs_of(spark, group, lambda: nsw_stored_knn(
            spark, store, big, [0.2] * DIM, k=10, m=3, stride=stride,
            **kw))

    for stop_k in (nsw.NSW_STOP_K, None):
        top, jobs = serve(f"nsw-budget-whole-{stop_k}", ef=ef,
                          rounds=rounds, stop_k=stop_k)
        stages = [st.getStageInfo(s).name for j in jobs
                  for s in st.getJobInfo(j).stageIds]
        assert len(jobs) == 1, (stop_k, len(jobs))
        assert not [n for n in stages if n.startswith("parquet at")], stages
        rows, collect_jobs = _jobs_of(
            spark, f"nsw-budget-collect-{stop_k}", top.collect)
        assert len(rows) == 10
        assert collect_jobs == []
    assert calls, "the base beam ran"
    # below the bound: the entry job plus one job per base round
    calls.clear()
    _, jobs = serve("nsw-budget-rounds", ef=16, rounds=rounds)
    assert calls, "the base beam ran"
    assert len(jobs) == 1 + len(calls), (len(jobs), len(calls))
    # without the stop rule: the entry job plus exactly `rounds` jobs
    _, jobs = serve("nsw-budget-two-rounds", ef=16, rounds=2, stop_k=None)
    assert len(jobs) == 1 + 2


def test_whole_store_entry_serves_the_per_round_answer(spark, emb,
                                                       tmp_path):
    """A stored serve whose base is no bigger than ef·2M reads the whole
    store in its entry job (plus the tombstone read, when there are
    tombstones); its top-k and whole visited set (k = 2^20) are those
    of the per-round beam over the same store's resolved relations
    (``resolve_stored_edges``/``resolve_stored_levels``, which carry
    no node count).  Cases: the hierarchical fixture, a flat entry at
    a stride other than the store's, an upserted (mirror-validated)
    store, a tombstoned one, a source that is a subset of the corpus,
    and a source with a null-vector row (27 rows over 26 nodes).  A
    last serve of the hierarchical fixture at ef = 16 (ef·2M = 96 <
    400) takes the per-round path on both sides."""
    from openai_vector_search_demo_spark.operators.nsw import (
        delete_from_nsw_index,
        read_l1_meta,
        read_nsw_deletes,
        resolve_stored_edges,
        resolve_stored_levels,
        upsert_nsw_index,
    )

    def write(df, name):
        path = str(tmp_path / name)
        write_nsw_index(df, path, m=3)
        return path

    big = _hier_fixture(spark)
    base, corpus, batch = _upsert_parts(emb)
    hier, small = write(big, "hier"), write(base, "small")
    upserted = write(corpus, "upserted")
    upsert_nsw_index(spark, upserted, batch, corpus, m=3)
    deleted = write(base, "deleted")
    delete_from_nsw_index(spark, deleted, [3, 17])
    tenant = emb.filter(F.col("label") % 2 == 0)
    assert tenant.count() == 27
    cases = [(hier, big, None, 160), (hier, big, 7, 160),
             (upserted, base, None, 160), (deleted, base, None, 160),
             (small, base.filter(F.col("vec_id") % 5 != 0), None, 160),
             (write(tenant, "tenant"), tenant, None, 160),
             (hier, big, None, 16)]
    qvec = [(-1) ** i * 0.3 for i in range(DIM)]
    for case, (store, source, stride, ef) in enumerate(cases):
        kw = dict(k=1 << 20, ef=ef, rounds=8, n_entry=4)
        meta = read_l1_meta(spark, store)
        dead = read_nsw_deletes(spark, store)
        got, jobs = _jobs_of(spark, f"nsw-whole-{case}", lambda: [
            (r.vec_id, r.similarity) for r in nsw_stored_knn(
                spark, store, source, qvec, m=3,
                stride=stride or meta["stride"], **kw).collect()])
        if meta["n"] <= ef * 2 * 3:
            assert len(jobs) == 1 + bool(dead), (case, len(jobs))
        else:
            assert len(jobs) > 2, (case, len(jobs))
        levels, flat_mod = resolve_stored_levels(spark, store, m=3)
        if stride is not None:
            levels, flat_mod = [], stride
        edges = resolve_stored_edges(spark, store, m=3).localCheckpoint()
        want = [(r.vec_id, r.similarity) for r in beam_search_knn(
            edges, source, qvec, exclude_ids=dead, flat_mod=flat_mod,
            hier_levels=[(lv.localCheckpoint(), mod)
                         for lv, mod in levels], **kw).collect()]
        assert len(want) >= 10 and got[:10] == want[:10], case
        assert sorted(got) == sorted(want), case


def test_bucket_count_rule_at_its_boundaries():
    """A layer is one bucket until its 2·m·nodes rows fill two buckets
    of NSW_BUCKET_ROWS, and never more than NSW_MAX_BUCKETS."""
    from openai_vector_search_demo_spark.operators.nsw import (
        NSW_BUCKET_ROWS,
        NSW_MAX_BUCKETS,
        nsw_buckets,
    )
    assert NSW_BUCKET_ROWS == 1 << 17 and NSW_MAX_BUCKETS == 16
    assert nsw_buckets(0, 16) == 1
    assert nsw_buckets(300, 16) == 1
    assert nsw_buckets(8191, 16) == 1       # 262,112 rows
    assert nsw_buckets(8192, 16) == 2       # 262,144 rows = 2 buckets
    assert nsw_buckets(65535, 16) == 15
    assert nsw_buckets(65536, 16) == 16
    assert nsw_buckets(100_000, 16) == 16
    assert nsw_buckets(10 ** 9, 16) == 16
    assert nsw_buckets(16384, 8) == 2       # m enters the row count


def test_fixture_store_writes_one_file_per_layer(spark, tmp_path):
    """The 400-vector fixture's layers are one bucket each: one
    ``bucket=0`` file per layer, and the manifest records the counts."""
    import glob

    from openai_vector_search_demo_spark.operators.nsw import read_l1_meta
    store = str(tmp_path / "nswh")
    write_nsw_index(_hier_fixture(spark), store, m=3)
    assert read_l1_meta(spark, store)["buckets"] == {"": 1, "_L1": 1}
    for layer in ("", "/_L1"):
        files = glob.glob(f"{store}{layer}/bucket=*/*.parquet")
        assert [f.split("/")[-2] for f in files] == ["bucket=0"], files


def test_manifest_without_bucket_counts_raises(spark, emb, tmp_path):
    """Serving or upserting a store whose manifest lacks the bucket
    counts raises instead of pruning with a guessed count."""
    from openai_vector_search_demo_spark.operators.nsw import (
        read_l1_meta,
        upsert_nsw_index,
    )
    from openai_vector_search_demo_spark.stores import swap_manifest
    base, corpus, batch = _upsert_parts(emb)
    store = str(tmp_path / "nsw")
    write_nsw_index(corpus, store, m=3)
    meta = read_l1_meta(spark, store)
    del meta["buckets"]
    swap_manifest(spark, store, "_L1_META", meta)
    with pytest.raises(ValueError, match="bucket count"):
        nsw_stored_knn(spark, store, base, [0.1] * DIM, k=5, ef=5,
                       rounds=2, seeds=[2, 10], m=3)
    with pytest.raises(ValueError, match="bucket count"):
        upsert_nsw_index(spark, store, batch, corpus, m=3)


def test_two_level_hierarchy_serves_alike_in_both_engines_and_stored(
        spark, tmp_path, monkeypatch):
    """A two-level hierarchy (NSW_HIER_FLOOR lowered to 4 gives the
    400-vector fixture an L2 of 4 nodes over its 20-node L1): the
    driver engine, whose entry scan prefetches L2 whole and L1's
    adjacency of its nodes, and the relational batch engine return the
    same top-10 and visited set with the stop rule on and off; the
    stored serve returns the inline serve's answer."""
    from openai_vector_search_demo_spark.operators import nsw
    from openai_vector_search_demo_spark.operators.nsw import (
        NSW_STOP_K,
        beam_search_knn_batch,
        inline_levels,
        read_l1_meta,
        symmetrize_edges,
    )
    monkeypatch.setattr(nsw, "NSW_HIER_FLOOR", 4)
    big = _hier_fixture(spark)
    levels, flat_mod = inline_levels(big, 400, m=3)
    assert [mod for _, mod in levels] == [20, 100] and flat_mod == 200
    levels = [(lv.localCheckpoint(), mod) for lv, mod in levels]
    edges = symmetrize_edges(build_knn_graph(big, m=3)).localCheckpoint()
    qvecs = {100: [0.2] * DIM, 200: [(-1) ** i * 0.3 for i in range(DIM)]}
    queries = spark.createDataFrame(list(qvecs.items()),
                                    "qid long, qv array<double>")
    for stop_k in (NSW_STOP_K, None):
        kw = dict(k=1 << 20, ef=16, rounds=8, n_entry=4,
                  hier_levels=levels, flat_mod=flat_mod, stop_k=stop_k)
        batch = {}
        for r in beam_search_knn_batch(edges, big, queries,
                                       **kw).collect():
            batch.setdefault(r.qid, []).append((r.rank, r.vec_id,
                                                r.similarity))
        for qid, qv in qvecs.items():
            got = [(v, s) for _, v, s in sorted(batch[qid])]
            want = [(r.vec_id, r.similarity) for r in
                    beam_search_knn(edges, big, qv, **kw).collect()]
            assert got[:10] == want[:10], (qid, stop_k)
            assert set(got) == set(want), (qid, stop_k)
    store = str(tmp_path / "nsw2")
    write_nsw_index(big, store, m=3)
    meta = read_l1_meta(spark, store)
    assert meta["buckets"] == {"": 1, "_L1": 1, "_L2": 1}
    stride, ef, rounds = nsw_serving_params(400)
    stored = [(r.vec_id, r.similarity) for r in
              nsw_stored_knn(spark, store, big, qvecs[200], k=10, ef=ef,
                             rounds=rounds, m=3, stride=stride).collect()]
    inline = [(r.vec_id, r.similarity) for r in
              nsw_knn(big, qvecs[200], k=10, m=3, ef=ef, rounds=rounds,
                      stride=stride).collect()]
    assert stored == inline and len(stored) == 10


def test_batch_engine_jobs_per_base_round(spark):
    """The relational engine's Spark jobs per base round, with the stop
    rule evaluated every round (``stop_k`` too large to fire): one
    collect of per-qid stop values, on top of the round's two
    checkpoints.  Measured at 14-15 per round on this fixture (AQE
    splits a round's stages into a varying number of jobs, so the count
    is averaged over two rounds); the former aggregate-join stop rule,
    with its frontier checkpoint and ``isEmpty()`` job, ran 18."""
    from openai_vector_search_demo_spark.operators.nsw import (
        beam_search_knn_batch,
        symmetrize_edges,
    )
    big = _hier_fixture(spark)
    edges = symmetrize_edges(build_knn_graph(big, m=3)).localCheckpoint()
    queries = spark.createDataFrame(
        [(100, [0.2] * DIM), (200, [-0.3] * DIM)],
        "qid long, qv array<double>")

    def serve(rounds):
        return _jobs_of(spark, f"nsw-batch-rounds-{rounds}",
                        lambda: beam_search_knn_batch(
                            edges, big, queries, k=1 << 20, ef=4,
                            rounds=rounds, seeds=[1, 101, 201],
                            stop_k=10 ** 6).collect())

    (one, jobs1), (three, jobs3) = serve(1), serve(3)
    assert len(three) > len(one), "the two extra rounds found newcomers"
    assert (len(jobs3) - len(jobs1)) / 2 <= 15


@pytest.mark.slow
def test_compact_folds_deltas_and_tombstones(spark, emb, tmp_path):
    """Recompaction closes the maintenance triangle: after upsert +
    soft delete, the compacted store (a) equals a direct rebuild
    without the tombstoned rows, (b) names no segment in its manifest —
    the serving read takes the fresh-store fast path and the deleted
    id is HARD-gone, not ghost-filtered."""
    from openai_vector_search_demo_spark.operators.nsw import (
        compact_nsw_index,
        delete_from_nsw_index,
        read_l1_meta,
        upsert_nsw_index,
    )
    base = emb.filter(F.col("embedding").isNotNull())
    corpus = base.filter(F.col("vec_id") % 4 != 1)
    batch = base.filter(F.col("vec_id") % 4 == 1)
    store = str(tmp_path / "live")
    write_nsw_index(corpus, store, m=3)
    upsert_nsw_index(spark, store, batch, corpus, m=3)
    qvec = [0.25] * DIM
    best = nsw_stored_knn(spark, store, base, qvec, k=1, ef=5, rounds=2,
                          seeds=[2, 10], m=3).first().vec_id
    delete_from_nsw_index(spark, store, [best])

    dest = str(tmp_path / "compacted")
    n_dead = compact_nsw_index(spark, store, base, dest, m=3)
    assert n_dead == 1
    assert len(read_l1_meta(spark, store)["segments"]) == 2
    assert "segments" not in read_l1_meta(spark, dest)

    want = str(tmp_path / "rebuild")
    write_nsw_index(base.filter(F.col("vec_id") != best), want, m=3)
    got = [(r.vec_id, r.similarity) for r in
           nsw_stored_knn(spark, dest, base, qvec, k=10, ef=5, rounds=2,
                          seeds=[2, 10], m=3).collect()]
    ref = [(r.vec_id, r.similarity) for r in
           nsw_stored_knn(spark, want, base, qvec, k=10, ef=5, rounds=2,
                          seeds=[2, 10], m=3).collect()]
    assert got == ref
    assert best not in {v for v, _ in got}


@pytest.mark.slow
def test_stop_rule_answer_and_bound(spark, emb):
    """NSW_STOP_K early termination (r15): with the 40-node fixture the
    converged beam's top-k equals the exhaustive (stop_k=None) beam's
    top-k — the rule only skips rounds whose newcomers cannot enter the
    answer's neighborhood — and a tiny stop window provably visits no
    MORE than the exhaustive run."""
    from openai_vector_search_demo_spark.operators.nsw import NSW_STOP_K

    qvec = [0.2] * DIM
    base = emb.filter(F.col("embedding").isNotNull())
    full = nsw_knn(base, qvec, k=10, m=3, ef=8, rounds=6, stride=7,
                   n_entry=4, stop_k=None)
    stopped = nsw_knn(base, qvec, k=10, m=3, ef=8, rounds=6, stride=7,
                      n_entry=4, stop_k=NSW_STOP_K)
    assert [(r.vec_id, r.similarity) for r in full.collect()] == \
        [(r.vec_id, r.similarity) for r in stopped.collect()]
    # whole visited relation: stopped ⊆ full
    full_v = {r.vec_id for r in
              nsw_knn(base, qvec, k=1 << 20, m=3, ef=8, rounds=6,
                      stride=7, n_entry=4, stop_k=None).collect()}
    stop_v = {r.vec_id for r in
              nsw_knn(base, qvec, k=1 << 20, m=3, ef=8, rounds=6,
                      stride=7, n_entry=4, stop_k=12).collect()}
    assert stop_v <= full_v


def test_tenant_writers_reject_null_tenant(spark, tmp_path):
    """A NULL tenant must fail LOUDLY at write time: `col == None`
    matches nothing, so the row would silently vanish from every
    subtree while an empty __HIVE_DEFAULT_PARTITION__ store (n_docs=0,
    NULL stats) got written (code-review r15)."""
    import pytest as _pytest

    from openai_vector_search_demo_spark.operators.bm25_index import (
        write_bm25_index,
    )
    from openai_vector_search_demo_spark.operators.late_interaction import (
        write_token_window_index,
    )
    from openai_vector_search_demo_spark.operators.nsw import (
        write_nsw_index_tenants,
    )

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0], "a"), (1, [0.0, 1.0], None)],
        "vec_id long, embedding array<double>, tenant string")
    with _pytest.raises(ValueError, match="NULL"):
        write_nsw_index_tenants(vecs, str(tmp_path / "nsw"), m=1,
                                tenant_col="tenant")
    docs = spark.createDataFrame(
        [(0, "alpha beta", "a"), (1, "gamma delta", None)],
        "doc_id long, text string, tenant string")
    with _pytest.raises(ValueError, match="NULL"):
        write_bm25_index(docs, str(tmp_path / "bm25"),
                         tenant_col="tenant")
    with _pytest.raises(ValueError, match="NULL"):
        write_token_window_index(docs, str(tmp_path / "li"),
                                 tenant_col="tenant")


def test_trusted_and_delta_resolution_agree_on_valid_store(
        spark, emb, tmp_path, monkeypatch):
    """r16 fused engine: a never-upserted store served through the
    UNTRUSTED path (merge-on-read top-m + mirror validation replayed
    driver-side from the prefetched rows) must equal the trusted
    fast path — on a valid store every fwd list is exactly m rows and
    every mirror validates, so the two resolutions are provably the
    same adjacency."""
    from openai_vector_search_demo_spark.operators.nsw import read_l1_meta
    from openai_vector_search_demo_spark.stores import write_segment

    untrusted = _spy_untrusted(monkeypatch)
    qvec = [0.15] * DIM
    store = str(tmp_path / "nsw")
    write_nsw_index(emb, store, m=3)
    trusted = [(r.vec_id, r.similarity) for r in
               nsw_stored_knn(spark, store, emb, qvec, k=10, ef=5,
                              rounds=3, seeds=[1, 9], m=3).collect()]
    assert untrusted == [False]
    # a manifest naming a graph segment (here one with no rows) flips
    # the SAME store onto the untrusted path
    write_segment(spark, store, "_L1_META", read_l1_meta(spark, store),
                  {"": spark.createDataFrame([], _STORE_SCHEMA)})
    delta = [(r.vec_id, r.similarity) for r in
             nsw_stored_knn(spark, store, emb, qvec, k=10, ef=5,
                            rounds=3, seeds=[1, 9], m=3).collect()]
    assert untrusted == [False, True]
    assert delta == trusted


def _upsert_parts(emb):
    base = emb.filter(F.col("embedding").isNotNull())
    return (base, base.filter(F.col("vec_id") % 4 != 1),
            base.filter(F.col("vec_id") % 4 == 1))


def _serve(spark, store, base, qvec=(0.25,) * DIM):
    return [(r.vec_id, r.similarity) for r in
            nsw_stored_knn(spark, store, base, list(qvec), k=10, ef=5,
                           rounds=2, seeds=[2, 10],
                           m=3).collect()]


def test_upsert_killed_before_manifest_swap_serves_previous_version(
        spark, emb, tmp_path, monkeypatch):
    """An upsert killed after its segment is written but before the
    ``_L1_META`` swap leaves the store at its previous version: readers
    serve the pre-upsert answer on the trusted path (no merge-on-read),
    and a retry serves what an uninterrupted upsert serves."""
    from openai_vector_search_demo_spark import stores
    from openai_vector_search_demo_spark.operators.nsw import (
        read_l1_meta,
        upsert_nsw_index,
    )

    base, corpus, batch = _upsert_parts(emb)
    store = str(tmp_path / "live")
    write_nsw_index(corpus, store, m=3)
    before, meta = _serve(spark, store, base), read_l1_meta(spark, store)

    def killed(*args, **kwargs):
        raise RuntimeError("killed before the manifest swap")

    with monkeypatch.context() as mp:
        mp.setattr(stores, "swap_manifest", killed)
        with pytest.raises(RuntimeError, match="manifest swap"):
            upsert_nsw_index(spark, store, batch, corpus, m=3)
    assert [p for p in (tmp_path / "live").iterdir()
            if p.name.startswith("_seg-")], "no segment was written"
    assert read_l1_meta(spark, store) == meta
    untrusted = _spy_untrusted(monkeypatch)
    assert _serve(spark, store, base) == before
    assert untrusted == [False]

    upsert_nsw_index(spark, store, batch, corpus, m=3)
    clean = str(tmp_path / "clean")
    write_nsw_index(corpus, clean, m=3)
    upsert_nsw_index(spark, clean, batch, corpus, m=3)
    assert _serve(spark, store, base) == _serve(spark, clean, base)
    assert untrusted == [False, True, True]


def test_upsert_and_delete_on_file_uri_store_serve_bare_path_answer(
        spark, emb, tmp_path):
    """Upsert, delete and serve on a ``file://`` store URI answer
    exactly what the same calls answer on the bare path."""
    from openai_vector_search_demo_spark.operators.nsw import (
        delete_from_nsw_index,
        upsert_nsw_index,
    )

    base, corpus, batch = _upsert_parts(emb)
    answers = []
    for store in (str(tmp_path / "bare"), "file://" + str(tmp_path / "uri")):
        write_nsw_index(corpus, store, m=3)
        upsert_nsw_index(spark, store, batch, corpus, m=3)
        best = _serve(spark, store, base)[0][0]
        delete_from_nsw_index(spark, store, [best])
        answers.append((best, _serve(spark, store, base)))
    assert answers[0] == answers[1]
    best, got = answers[0]
    assert best not in [v for v, _ in got] and len(got) == 10


def test_topm_from_replays_dense_rank_order():
    """_topm_from == the merge-on-read DENSE_RANK window: distinct
    (sim, dst) pairs, (sim DESC NULLS LAST, NaN largest, dst ASC),
    rank <= m — including the replay-duplicate collapse."""
    from openai_vector_search_demo_spark.operators.nsw import _topm_from

    rows = [  # (dst, sim, fwd)
        (7, 0.5, True),
        (7, 0.5, True),          # byte-identical replay duplicate
        (3, 0.9, True),
        (4, float("nan"), True),  # NaN sorts above every number
        (5, None, True),          # NULL sorts last
        (6, 0.9, True),           # tie with 3 -> dst ASC
        (9, 0.1, False),          # mirror rows never enter the window
    ]
    assert _topm_from(rows, 3) == [4, 3, 6]
    assert _topm_from(rows, 5) == [4, 3, 6, 7, 5]


def test_failed_nsw_build_is_rebuilt_on_next_call(spark, tmp_path,
                                                  store_root, monkeypatch):
    """A slot's store build killed after the base-graph write (before
    the level metadata) publishes nothing: the next call builds again
    and serves what a fresh build serves, instead of a half-written
    store that passes for complete."""
    import shutil

    from openai_vector_search_demo_spark import stores
    from openai_vector_search_demo_spark.operators import nsw
    from openai_vector_search_demo_spark.queries import ann_nsw_stored_knn

    from conftest import SF0001

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SF0001}/embeddings.parquet", sf)

    def killed(*args, **kwargs):
        raise RuntimeError("build killed after the base-graph write")

    with monkeypatch.context() as mp:
        mp.setattr(nsw, "_write_hier_meta", killed)
        with pytest.raises(RuntimeError, match="base-graph write"):
            ann_nsw_stored_knn(spark, str(sf))
    assert list(store_root.iterdir()) == []
    rebuilt = [tuple(r) for r in ann_nsw_stored_knn(spark, str(sf)).collect()]

    fresh_root = tmp_path / "fresh"
    fresh_root.mkdir()
    monkeypatch.setattr(stores, "_ROOT", f"{fresh_root}/spark_graft_")
    fresh = [tuple(r) for r in ann_nsw_stored_knn(spark, str(sf)).collect()]
    assert len(rebuilt) == 10 and rebuilt == fresh
