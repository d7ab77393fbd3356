"""Physical-plan regression tests — the scale posture, pinned.

These assert the *shape* of the plan, not timings: top-k pushdown, broadcast
join selection, predicate pushdown into the parquet scan, and column
pruning.  A regression here is a 100 TB incident that small-SF correctness
tests cannot see.
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_knn_uses_takeordered_not_global_sort(spark):
    p = plan_of(spark, "q2_knn_exact")
    assert "TakeOrderedAndProject" in p      # per-partition heap + merge
    assert "Exchange rangepartitioning" not in p  # no global sort shuffle


def test_join_top_customers_all_broadcast(spark):
    p = plan_of(spark, "join_top_customers")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p          # dims must broadcast at this size


def test_tpch_q6_pushes_filters_and_prunes_columns(spark):
    p = plan_of(spark, "tpch_q6_revenue_forecast")
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1]
    # projection pruning: the scan must not read unneeded lineitem columns
    read = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read and "l_returnflag" not in read


def test_knn_scan_prunes_to_three_columns(spark):
    p = plan_of(spark, "q2_knn_exact")
    read = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "vec_id" in read and "embedding" in read and "label" in read


def test_lineitem_agg_has_partial_aggregation(spark):
    # partial (map-side) + final HashAggregate pair around the exchange
    p = plan_of(spark, "tpch_q1_pricing_summary")
    assert p.count("HashAggregate") >= 2


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_ngram_jaccard"])
def test_dedup_never_builds_cartesian(spark, name):
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join: two tables bucketed on the join key by the same
    bucket count must join with NO Exchange on either side (SURVEY §4.4 /
    brief: 'bucketing for co-located joins')."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.catalog import write_bucketed

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(orders, "orders_b", "o_orderkey", 8)
        write_bucketed(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
                       "lineitem_b", "o_orderkey", 8)
        joined = spark.table("lineitem_b").join(spark.table("orders_b"),
                                                "o_orderkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        p = buf.getvalue()
        assert "SortMergeJoin" in p
        assert "Exchange hashpartitioning" not in p  # co-located: no shuffle
        # sanity: result matches the plain join
        plain = lineitem.withColumnRenamed("l_orderkey", "o_orderkey") \
                        .join(orders, "o_orderkey")
        assert joined.count() == plain.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_q18_having_subquery_plans_as_left_semi(spark):
    p = plan_of(spark, "tpch_q18_large_volume_customer")
    assert "LeftSemi" in p                   # key-set filter, not a full join
    assert "NestedLoop" not in p


def test_rollup_cube_plan_single_expand_single_agg_pass(spark):
    for name in ("rollup_revenue_region_nation", "cube_orders_status_priority",
                 "grouping_sets_customer"):
        p = plan_of(spark, name)
        assert p.count("Expand") >= 1        # grouping levels via Expand…
        assert "Union" not in p              # …never a union of per-level jobs


def test_range_join_query_has_no_nested_loop(spark):
    p = plan_of(spark, "range_join_price_bands")
    assert "NestedLoop" not in p
    assert "Cartesian" not in p


def test_tpch_q5_dims_broadcast(spark):
    p = plan_of(spark, "tpch_q5_local_supplier_volume")
    assert "BroadcastHashJoin" in p
    assert "NestedLoop" not in p and "Cartesian" not in p


def test_json_extract_stays_jvm_side(spark):
    # from_json inside codegen — a Python UDF would appear as BatchEvalPython
    p = plan_of(spark, "json_extract_props")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_retrieval_idx_static_bound_skips_probe(spark, monkeypatch):
    """A statically bounded candidate list (limit(k) anywhere below) must
    not spend a probe job or a checkpoint: LogicalPlan.maxRows proves
    boundedness for free.  r2's guard ran the whole upstream subtree —
    including the E3 scorer UDF — a second time on every search."""
    from pyspark.sql import DataFrame, functions as F

    from openai_vector_search_demo_spark.operators import rerank as rr

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    hits = (emb.orderBy(F.col("vec_id").asc()).limit(10)
            .withColumn("similarity", F.col("vec_id").cast("double"))
            .filter(F.col("vec_id") >= 0))       # Filter/Project keep the bound

    def boom(self, *a, **k):
        raise AssertionError("action ran while planning a bounded input")

    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(DataFrame, "localCheckpoint", boom)
    out = rr.with_retrieval_idx(hits, sim_col="similarity", tie_break="vec_id")
    monkeypatch.undo()
    assert out.count() == 10
    assert out.filter("retrieval_idx = 0").count() == 1


def test_search_scorer_executes_once_per_candidate(spark, tmp_path):
    """End-to-end pin for the r2 double-execution defect: the E3 scorer
    (production: one LLM call per candidate) must evaluate exactly k rows,
    not 2k, across the whole search() plan.  Scored rows are tallied via a
    filesystem side effect — local-mode UDF workers share the filesystem,
    and accumulator updates are dropped on the CollectLimit path."""
    import glob
    import os
    import uuid

    import pandas as pd
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.embedding.embedder import (
        HashNgramEmbedder,
    )
    from openai_vector_search_demo_spark.plans.pipeline import (
        ingest_documents,
        search,
    )

    model = HashNgramEmbedder(16)
    docs = spark.createDataFrame(
        [(f"doc{i}", f"alpha beta gamma delta {i} " * 3) for i in range(30)],
        "source string, text string")
    chunks = ingest_documents(docs, embedder=model).localCheckpoint()
    tally_dir = str(tmp_path / "scored")
    os.makedirs(tally_dir, exist_ok=True)

    def counting_scorer(question, hits, content_col="page_content"):
        def _score_fn(c):
            with open(os.path.join(tally_dir, uuid.uuid4().hex), "w") as f:
                f.write(str(len(c)))
            return pd.Series([60] * len(c), index=c.index)
        # explicit form: the module's `from __future__ import annotations`
        # stringifies type hints, which pandas_udf inference can't resolve
        _score = F.pandas_udf(_score_fn, "int")
        return (hits.withColumn("score", _score(F.col(content_col)))
                .withColumn("answer", F.substring(F.col(content_col), 1, 160)))

    out = search(chunks, "alpha beta gamma", k=5, embedder=model,
                 scorer=counting_scorer).collect()
    assert len(out) == 5
    scored_rows = sum(int(open(p).read())
                      for p in glob.glob(os.path.join(tally_dir, "*")))
    assert scored_rows == 5


def _tally_transport(tally_dir: str, fail_every_other: bool = False):
    """A ``LocalModelTransport`` (dim 16) that writes each call's text
    count to its own file under ``tally_dir`` (UDF workers are separate
    processes sharing the filesystem).  With ``fail_every_other`` every
    second call of a task's copy raises before reaching the model."""
    import os
    import uuid

    from openai_vector_search_demo_spark.embedding.embedder import (
        LocalModelTransport,
    )
    model = LocalModelTransport(16)
    calls = [0]

    def transport(texts):
        calls[0] += 1
        if fail_every_other and calls[0] % 2 == 0:
            raise ConnectionError("transient")
        with open(os.path.join(tally_dir, uuid.uuid4().hex), "w") as f:
            f.write(str(len(texts)))
        return model(texts)

    return transport


def _ingest_plan(spark, kind: str, embedder):
    """``ingest_documents`` or ``ingest_pages`` over 24 documents of 450
    words (two chunks each, or one page each) in ONE partition, so every
    task-local transport copy sees more than one call at any core count."""
    from openai_vector_search_demo_spark.plans.pipeline import (
        ingest_documents,
        ingest_pages,
    )
    rows = [(f"doc{i}", " ".join(f"w{i}_{j % 37}" for j in range(450)))
            for i in range(24)]
    if kind == "documents":
        return ingest_documents(
            spark.createDataFrame(rows, "source string, text string")
            .coalesce(1), embedder=embedder)
    return ingest_pages(
        spark.createDataFrame([(p, 0, t) for p, t in rows],
                              "doc_path string, page_no int, text string")
        .coalesce(1), embedder=embedder)


@pytest.mark.parametrize("kind", ["documents", "pages"])
def test_ingest_embeds_each_chunk_once(spark, tmp_path, kind):
    """E1 runs once per output chunk: a production embedder makes one API
    request per text, not one for the E2 null filter and another for the
    stored column."""
    import glob
    import os

    from openai_vector_search_demo_spark.embedding.embedder import (
        RemoteEmbedder,
    )
    tally_dir = str(tmp_path / "embedded")
    os.makedirs(tally_dir)
    emb = RemoteEmbedder(_tally_transport(tally_dir), dim=16, batch_size=4)
    out = _ingest_plan(spark, kind, emb).collect()
    assert len(out) == (48 if kind == "documents" else 24)
    embedded = sum(int(open(p).read())
                   for p in glob.glob(os.path.join(tally_dir, "*")))
    assert embedded == len(out)


@pytest.mark.parametrize("kind", ["documents", "pages"])
def test_ingest_flaky_transport_leaves_no_null_embedding(spark, tmp_path,
                                                         kind):
    """A transport failing every other call (no retry) drops the failed
    chunks at E2; none is stored with a null vector.  Evaluated twice,
    a chunk whose first call succeeded and second failed would pass the
    filter and be stored null."""
    import os

    from openai_vector_search_demo_spark.embedding.embedder import (
        RemoteEmbedder,
    )
    tally_dir = str(tmp_path / "embedded")
    os.makedirs(tally_dir)
    emb = RemoteEmbedder(_tally_transport(tally_dir, fail_every_other=True),
                         dim=16, batch_size=1, max_retries=1)
    out = _ingest_plan(spark, kind, emb).collect()
    assert 0 < len(out) < (48 if kind == "documents" else 24)
    assert all(r.embedding is not None for r in out)


def test_ingest_plans_hold_one_embed_node(spark):
    """One ``ArrowEvalPython`` per ingest plan: the E2 null filter is not
    pushed below the embed projection with the UDF inlined into it."""
    from openai_vector_search_demo_spark.plans.pipeline import (
        ingest_documents,
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plans = {
        # flagship_search's §3.1 stage
        "ingest_documents": ingest_documents(docs, path_col="source"),
        **{name: entrymod.queries()[name](spark, SF)
           for name in ("flagship_search_oracled",
                        "flagship_search_remote_slot")},
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, name


def test_ingest_batch_cycle_reuses_compiled_code(spark, tmp_path):
    """Same-shaped ingest batches reuse their generated code: after the
    first batch through MinHash admission -> line-dedup admission ->
    chunk and embed append, which reads stores without segments, every
    batch compiles at most 2 classes with Janino — also the second,
    the first to read a segment, whose store scans keep their fusion
    with the broadcast probes above them.  A cycle generates over a
    hundred classes, which Spark's default codegen cache (100 entries)
    cannot hold from one batch to the next."""
    import pyarrow.parquet as pq

    from openai_vector_search_demo_spark.operators import dedup, line_dedup
    from openai_vector_search_demo_spark.plans.pipeline import (
        ingest_documents,
    )
    jvm = spark.sparkContext._jvm
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    pdf = pq.read_table(f"{SF}/documents.parquet",
                        columns=["doc_id", "source", "text"]).to_pandas()
    batches = [spark.createDataFrame(pdf.iloc[i:i + 100])
               for i in range(0, 400, 100)]
    band, lines, chunks = (str(tmp_path / n)
                           for n in ("band", "lines", "chunks"))
    dedup.write_band_index(batches[0], band)
    line_dedup.write_line_index(batches[0], lines)
    # AQE numbers whole-stage classes in the order its stages complete,
    # so the same code can come back under a new stage id; with AQE off
    # the ids are fixed and the count measures cache reuse alone
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    compiled = []
    try:
        for batch in batches[1:]:
            before = codegen.METRIC_SOURCE_CODE_SIZE().getCount()
            dedup.ingest_batch_against_index(spark, batch, band).collect()
            line_dedup.ingest_lines_against_index(spark, batch,
                                                  lines).collect()
            (ingest_documents(batch, path_col="source")
             .write.mode("append").parquet(chunks))
            compiled.append(
                codegen.METRIC_SOURCE_CODE_SIZE().getCount() - before)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert max(compiled[1:]) <= 2, compiled


def test_tenant_partition_pruning_reaches_scan(spark, tmp_path):
    """filter(tenant = x) over a tenant-partitioned table must prune at the
    file listing (PartitionFilters), not post-scan — the §4.1 per-alias
    index-scoping equivalent."""
    df = spark.createDataFrame(
        [(i, f"t{i % 4}", float(i)) for i in range(100)],
        "id int, tenant string, v double")
    path = str(tmp_path / "tenanted")
    df.write.partitionBy("tenant").parquet(path)
    q = spark.read.parquet(path).filter("tenant = 't1'").select("id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p and "t1" in p
    assert q.count() == 25


def test_parse_size_bytes_suffix_family():
    """maxPartitionBytes accepts Spark size strings — '128MB', '128m', '1g'
    previously raised inside the heuristic's try and silently disabled
    spreading (ADVICE r6)."""
    from openai_vector_search_demo_spark.plans.pipeline import _parse_size_bytes
    mib = 1024 * 1024
    assert _parse_size_bytes("134217728") == 128 * mib
    assert _parse_size_bytes("134217728b") == 128 * mib
    assert _parse_size_bytes("128m") == 128 * mib
    assert _parse_size_bytes("128MB") == 128 * mib
    assert _parse_size_bytes("128M") == 128 * mib
    assert _parse_size_bytes("1g") == 1024 * mib
    assert _parse_size_bytes("2k") == 2048
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _parse_size_bytes("fast")


def test_spread_for_python_heuristic_and_override(spark, tmp_path):
    from openai_vector_search_demo_spark.plans.pipeline import spread_for_python

    # one small local file -> spread to cores/factor
    small = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(small)
    df = spark.read.parquet(small)
    target = max(2, spark.sparkContext.defaultParallelism // 4)
    assert spread_for_python(df).rdd.getNumPartitions() == target

    # suffixed conf value must not disable the heuristic
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128MB")
    try:
        assert spread_for_python(df).rdd.getNumPartitions() == target
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        else:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)

    # explicit override bypasses detection (the object-store escape hatch)
    assert spread_for_python(df, num_partitions=7).rdd.getNumPartitions() == 7
    import pytest as _pytest
    with _pytest.raises(ValueError):
        spread_for_python(df, num_partitions=0)


# ---------------------------------------------------------------------------
# r7 operators: shuffle-count pins
# ---------------------------------------------------------------------------

def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_funnel_is_one_hash_shuffle(spark):
    from openai_vector_search_demo_spark.operators.funnel import (
        funnel_counts,
    )
    df = spark.createDataFrame([(1, "view", 10), (1, "click", 20)],
                               "user_id long, event_type string, ts_us long")
    p = _physical(funnel_counts(df, ["view", "click", "purchase"]))
    # the whole N-step funnel: ONE hash shuffle (per-user fold) + the
    # single-partition final count — never a join chain, never a sort
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in p
    assert "Join" not in p


def test_shard_manifest_is_one_hash_shuffle_no_sort(spark):
    from openai_vector_search_demo_spark.operators.sharding import (
        shard_manifest,
    )
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    p = _physical(shard_manifest(docs, "doc_id", 4))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in p   # hash order ≠ global sort


def test_profile_table_is_one_scan(spark):
    from openai_vector_search_demo_spark.operators.profile import (
        profile_table,
    )
    df = spark.createDataFrame([(1, "a", 2.0)], "k long, s string, x double")
    p = _physical(profile_table(df))
    # every column's stats from ONE pass over ONE scan: the multi-distinct
    # plans as a single Expand, not per-column jobs/scans
    assert p.count("Scan ExistingRDD") == 1
    assert p.count("Expand") == 1


# ---------------------------------------------------------------------------
# r8 operators: scale-shape pins
# ---------------------------------------------------------------------------

def test_rfm_quantile_has_no_window(spark):
    """The percentile-cut RFM must plan with NO Window operator at all —
    the whole point vs rfm_segmentation's three global NTILE sorts —
    and the 1-row cuts relation must broadcast."""
    from openai_vector_search_demo_spark.queries import SPARK_QUERIES
    p = _physical(SPARK_QUERIES["rfm_quantile"](spark, SF))
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_pareto_quantile_window_runs_over_bins_not_customers(spark):
    """The binned ABC form may keep its one running-sum window, but its
    input must be the post-aggregation bin relation (a hash aggregate
    feeds the sort), never a range-partitioned sort of the customer
    relation itself."""
    from openai_vector_search_demo_spark.queries import SPARK_QUERIES
    p = _physical(SPARK_QUERIES["pareto_abc_quantile"](spark, SF))
    assert "Window" in p
    # the global sort under the window is single-partition over the bins:
    # no rangepartitioning exchange anywhere in the plan
    assert "Exchange rangepartitioning" not in p


def test_funnel_njoin_keeps_no_event_lists(spark):
    """The whale-safe funnel must not materialize per-user event arrays:
    no collect_list/sort_array in the plan, only MIN aggregates + joins."""
    from openai_vector_search_demo_spark.operators.funnel import (
        funnel_counts_njoin,
    )
    df = spark.createDataFrame([(1, "view", 10), (1, "click", 20)],
                               "user_id long, event_type string, ts_us long")
    p = _physical(funnel_counts_njoin(df, ["view", "click", "purchase"]))
    assert "collect_list" not in p
    assert "min(" in p


def test_tfidf_capped_prunes_vocabulary_before_pairing(spark):
    """The DF cap must land as a filter on the token-DF aggregate BEFORE
    the pair join (the bound exists at plan time, not post-hoc)."""
    from openai_vector_search_demo_spark.operators.tfidf import (
        tfidf_cosine_pairs,
    )
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string")
    p = _physical(tfidf_cosine_pairs(docs, max_token_df=5, n_docs=2))
    # the HAVING-style cap plans as a Filter over the count aggregate
    assert "(dfc" in p and "<= 5" in p


def test_bigram_lm_scored_stream_never_sortmergejoins(spark):
    """The r9 bigram rework's contract: the wide per-(doc,prev,cur)
    scored stream is co-located ONCE (the bc window over (prev, tk));
    every join in the plan must be broadcast — a SortMergeJoin would
    mean a marginal table regressed to a shuffle join of the stream."""
    from openai_vector_search_demo_spark.functions.text_analysis import (
        bigram_lm_scores,
    )
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b a")], "doc_id long, text string")
    p = _physical(bigram_lm_scores(docs, cache=False))
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("Window") == 1


def _n_persistent_rdds(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("slot", ["curation_pipeline",
                                  "data_prep_pipeline"])
def test_capstone_slots_release_scoped_caches(spark, slot):
    """The capstone query slots run under cache_scope() (r10 judge #7):
    when the slot returns, every intermediate persist (shared scan
    buffers, LM counts, pair sets) must be RELEASED — only the eagerly
    localCheckpoint-ed result may remain in executor storage — and the
    deferred collect must still produce rows off the truncated lineage."""
    from openai_vector_search_demo_spark.queries import SPARK_QUERIES

    spark.catalog.clearCache()
    before = _n_persistent_rdds(spark)
    df = SPARK_QUERIES[slot](spark, "/root/testdata/sf0.001")
    after = _n_persistent_rdds(spark)
    # at most the checkpointed result itself remains
    assert after - before <= 1, (
        f"{slot} leaked {after - before - 1} persisted intermediates")
    assert len(df.collect()) > 0  # deferred collect works post-release
    df.unpersist()


# ---------------------------------------------------------------------------
# r11 operators: python-free / broadcast / pruning pins
# ---------------------------------------------------------------------------

def test_dsir_weights_plan_is_codegen_with_broadcast_lambda(spark):
    from openai_vector_search_demo_spark.operators.dsir import (
        dsir_importance_weights,
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    w = dsir_importance_weights(docs, docs.limit(50), buckets=256)
    p = _physical(w)
    # hashed-n-gram featurization + λ scoring stay JVM-side end-to-end
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    # the B-row log-ratio table joins broadcast, never shuffling the pool
    assert "BroadcastHashJoin" in p


def test_triangle_plan_no_cartesian_no_python(spark):
    from openai_vector_search_demo_spark.operators.triangles import (
        triangle_counts,
        undirected_edges,
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a long, b long")
    res = triangle_counts(undirected_edges(pairs))
    p = _physical(res)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_zorder_slot_takeordered_no_python(spark):
    p = plan_of(spark, "zorder_curve_sample")
    # the Morton key is a pure bitwise projection: top-k via heap, no
    # global sort, no Python anywhere
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_upserted_store_read_is_pruned_and_python_free(spark, tmp_path):
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.ann_pretrained import (
        IVF_TRAINED_CENTROIDS,
    )
    from openai_vector_search_demo_spark.operators.pq import (
        ivfpq_stored_knn,
        upsert_ivfpq_index,
        write_ivfpq_index,
    )
    from openai_vector_search_demo_spark.pq_residual_pretrained import (
        PQR_CODEBOOKS,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") != 0)
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    store = str(tmp_path / "up")
    write_ivfpq_index(base.filter(F.col("vec_id") % 2 == 1), store,
                      IVF_TRAINED_CENTROIDS, PQR_CODEBOOKS)
    upsert_ivfpq_index(spark, base.filter(F.col("vec_id") % 2 == 0),
                       store, IVF_TRAINED_CENTROIDS, PQR_CODEBOOKS)
    top = ivfpq_stored_knn(spark, store, qvec, IVF_TRAINED_CENTROIDS,
                           PQR_CODEBOOKS, nprobe=8, k=10)
    p = _physical(top)
    # merge-on-read resolve is a window over PROBED rows — still no
    # Python, and the scan itself stays partition-pruned
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    assert "Window" in p
    assert "PartitionFilters" in p or "cell IN" in p


def test_hamming_stored_scan_is_sig_only_and_python_free(spark, tmp_path):
    """The stored binary read path must scan ONLY the 8-byte signature
    table (ReadSchema = ids + sig, no embedding), keep the XOR+POPCNT
    ranking in codegen, and fetch the R refine vectors via a BROADCAST
    join — never a corpus shuffle."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.operators.hamming import (
        hamming_stored_knn,
        write_hamming_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") != 0)
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    store = str(tmp_path / "sig")
    write_hamming_index(base, store, dim=len(qvec))
    top = hamming_stored_knn(spark, store, base, qvec, k=10, shortlist=50)
    p = _physical(top)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    assert "BroadcastHashJoin" in p        # R-row point-fetch, broadcast
    assert "TakeOrderedAndProject" in p    # shortlist + rerank, no sort
    # the signature store scan projects no vector column
    import re
    scans = re.findall(r"ReadSchema: struct<[^>]*>", p)
    sig_scans = [s for s in scans if "sig:bigint" in s]
    assert sig_scans and all("embedding" not in s for s in sig_scans)


def test_sq8_stored_scan_is_codes_only_and_python_free(spark, tmp_path):
    """The stored SQ8 read path must scan ONLY the code table
    (ReadSchema = ids + codes, no fp32 embedding), keep the
    decode+ADC chain in codegen (SQL path — no Python anywhere), and
    fetch the R refine vectors via a BROADCAST join — never a corpus
    shuffle."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.operators.sq import (
        sq8_stored_knn,
        sq8_train,
        write_sq8_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") != 0)
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    mins, maxs = sq8_train(base, dim=len(qvec))
    store = str(tmp_path / "sq8")
    write_sq8_index(base, store, mins, maxs)
    top = sq8_stored_knn(spark, store, base, qvec, mins, maxs,
                         k=10, shortlist=50)
    p = _physical(top)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    assert "BroadcastHashJoin" in p        # R-row point-fetch, broadcast
    assert "TakeOrderedAndProject" in p    # shortlist + rerank, no sort
    # the code store scan projects no fp32 vector column
    import re
    scans = re.findall(r"ReadSchema: struct<[^>]*>", p)
    code_scans = [s for s in scans if "codes:array" in s]
    assert code_scans and all("embedding" not in s for s in code_scans)


def test_nsw_stored_lookup_prunes_buckets_and_search_is_python_free(
        spark, tmp_path, monkeypatch):
    """The stored graph's per-round edge lookup must prune at PARTITION
    DISCOVERY (the frontier's bucket list reaches PartitionFilters), and
    the search's scoring plan must stay Python-free with broadcast
    point-reads — the per-query work is rounds·ef·M rows, never a corpus
    scan or shuffle."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.functions.vectors import (
        cosine_similarity,
        id_in,
        vector_lit,
    )
    from openai_vector_search_demo_spark.operators import nsw
    from openai_vector_search_demo_spark.operators.nsw import (
        nsw_stored_knn,
        read_l1_meta,
        write_nsw_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") != 0)
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    store = str(tmp_path / "nsw")
    # a corpus this small is one bucket per layer; shrink the rows per
    # bucket so the store keeps several bucket directories to prune
    monkeypatch.setattr(nsw, "NSW_BUCKET_ROWS", 64)
    write_nsw_index(base, store, m=4)
    assert read_l1_meta(spark, store)["buckets"][""] >= 6

    edges = spark.read.parquet(store)
    lookup = edges.filter(id_in("bucket", [1, 5]) & id_in("src", [1, 101]))
    p = _physical(lookup)
    assert "PartitionFilters" in p and "bucket" in p

    top = nsw_stored_knn(spark, store, base, qvec, k=10, ef=6,
                         rounds=2, seeds=(1, 101))
    p = _physical(top)
    # the single-query beam accumulates scored rows driver-side, so the
    # RESULT plan is just the bounded k-row relation — that boundedness
    # is the assertion (a driver-local relation: collecting it runs no job)
    assert "LocalTableScan" in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    # the per-round plan (what each fused action actually runs, r16):
    # ONE union of the IN-pushdown scoring point-read and the pruned
    # adjacency prefetch — no join, no exchange, no Python; both
    # branches push their IN lists to the parquet scan
    todo = [1, 2, 101, 102]
    score = (base.filter(id_in("vec_id", todo))
             .withColumn("_s", F.round(
                 cosine_similarity(F.col("embedding"),
                                   vector_lit(qvec)), 6))
             .select(F.lit(0).alias("_t"),
                     F.col("vec_id").alias("_a"), F.col("_s")))
    adj = lookup.select(F.lit(1).alias("_t"),
                        F.col("src").alias("_a"),
                        F.col("sim").alias("_s"))
    rp = _physical(score.unionByName(adj))
    assert "PushedFilters" in rp and "In(vec_id" in rp
    assert "Exchange" not in rp         # no shuffle anywhere in a round
    assert "Join" not in rp             # point reads, not joins (r16)
    assert "BatchEvalPython" not in rp and "MapInPandas" not in rp


def test_bm25_stored_scan_prunes_buckets_and_is_python_free(
        spark, tmp_path):
    """The inverted-index serving read must prune postings DIRECTORIES
    by the query terms' buckets (PartitionFilters), join the df table
    by broadcast, and keep everything in codegen — the only shuffle is
    the per-doc score sum over query-term hits."""
    from openai_vector_search_demo_spark.operators.bm25_index import (
        bm25_stored_topk,
        write_bm25_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    store = str(tmp_path / "bm25")
    write_bm25_index(docs, store, n_buckets=8)
    top = bm25_stored_topk(spark, store, ["hash", "join", "spark"],
                           k=20, n_buckets=8)
    p = _physical(top)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    assert "PartitionFilters" in p and "bucket" in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_scd2_build_is_one_exchange(spark):
    """The type-2 history build's docstring claim, pinned: both window
    passes and the version aggregate share the o_custkey hash
    partitioning — exactly ONE Exchange in the physical plan, no
    Python, no join."""
    import re

    from openai_vector_search_demo_spark import queries as Q

    df = Q.SPARK_QUERIES["scd2_customer_priority"](spark, SF)
    p = _physical(df)
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "Join" not in p


def test_labelprop_rounds_are_joins_not_cartesians(spark):
    """Label propagation's per-round work must stay hash joins + counts
    — no cartesian product, no Python — with the adjacency persisted
    (InMemoryTableScan in the final plan)."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.operators.labelprop import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "a long, b long")
    seeds = spark.createDataFrame([(1, "x"), (15, "y")],
                                  "node long, label string")
    out = label_propagation(edges, seeds, rounds=2)
    p = _physical(out)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "InMemoryTableScan" in p   # persisted adjacency/labels
    for df in [out]:
        df.unpersist = getattr(df, "unpersist", None)
    spark.catalog.clearCache()


def test_batched_beam_plan_is_python_free_with_broadcasts(spark):
    """The batched multi-query beam's final plan: qid-keyed windows,
    broadcast query table, no Python, no cartesian."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.operators.nsw import (
        beam_search_knn_batch,
        write_nsw_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") >= 20)
    queries = (emb.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qv")))
    import tempfile
    with tempfile.TemporaryDirectory() as tmp:
        store = f"{tmp}/nsw"
        write_nsw_index(base, store, m=4)
        edges = spark.read.parquet(store)
        out = beam_search_knn_batch(edges, base, queries, k=5, ef=4,
                                    rounds=2, seeds=(20, 101))
        p = _physical(out)
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "MapInPandas" not in p
        # r13: each round is localCheckpoint-truncated (the deep unrolled
        # lineage OOM'd a default-1g gate driver), so the FINAL plan is a
        # qid window over checkpointed round relations — the round-cut is
        # itself the asserted property now:
        assert "ExistingRDD" in p and "Window" in p
        out.collect()
        # the scoring join INSIDE a round (invisible in the truncated
        # final plan): query vectors ride a broadcast hash join, and the
        # shape is python-free — asserted on the round-identical plan
        vecs = base.select("vec_id", "embedding")
        q = queries.select("qid", F.col("qv").alias("_qv"))
        ids_df = q.select("qid").crossJoin(
            spark.createDataFrame([(20,), (101,)], "vec_id long"))
        from openai_vector_search_demo_spark.functions.vectors import (
            cosine_similarity,
        )
        rp = _physical(
            ids_df.join(vecs, "vec_id")
            .join(F.broadcast(q), "qid")
            .withColumn("_s", F.round(
                cosine_similarity(F.col("embedding"), F.col("_qv")), 6))
            .select("qid", "vec_id", "_s"))
        assert "BroadcastHashJoin" in rp
        assert "BatchEvalPython" not in rp and "MapInPandas" not in rp
    spark.catalog.clearCache()


def test_r12_curation_and_rag_slots_are_python_free(spark):
    """The named curation stages and the RAG packer must stay pure
    codegen — no Python evaluators, no cartesian products."""
    from openai_vector_search_demo_spark import queries as Q

    for name in ("ccnet_perplexity_buckets", "gopher_quality_rules",
                 "rag_context_budget_pack", "scd2_customer_priority",
                 "ivm_source_stats_delta"):
        df = Q.SPARK_QUERIES[name](spark, SF)
        p = _physical(df)
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p and "MapInPandas" not in p, name
        assert "CartesianProduct" not in p, name


def test_drift_report_is_codegen_with_tiny_shuffle(spark):
    """The drift gate's corpus-side work is one unpivoted scan — no
    Python, no cartesian; everything post-shuffle operates on the
    (feature, bucket) contingency table."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.operators.drift import drift_report

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rep = drift_report(docs, F.col("doc_id") % 2,
                       {"lang": F.col("lang"),
                        "len_b": F.floor(F.length("text") / 500.0)})
    p = _physical(rep)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    assert "CartesianProduct" not in p
    # map-side combine before the (feature, bucket) exchange
    assert "partial_sum" in p or "HashAggregate" in p


def test_blocklist_gate_is_single_scan_codegen(spark):
    p = plan_of(spark, "ta_blocklist_gate")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p


def test_mixture_allocation_broadcasts_totals(spark):
    """The 1-row totals frame must broadcast into the per-source plan —
    never a shuffle of the aggregate."""
    p = plan_of(spark, "mixture_allocation")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_split_leakage_no_cartesian_no_python(spark):
    """The near-dup pair relation comes from the banded shingle join —
    never an all-pairs product — and the whole audit stays JVM-side."""
    p = plan_of(spark, "split_leakage_audit")
    assert "CartesianProduct" not in p
    # the one Python stage is the documented ARROW-vectorized hashlib
    # shingle hasher (shingle_hashes_fast); row-at-a-time must not appear
    assert "BatchEvalPython" not in p
    assert "MapInPandas" not in p


def test_calibration_bins_are_codegen_single_aggregate(spark):
    """The reliability-diagram slot: one scan of the test split, one
    10-group hash aggregate, no Python anywhere (features are the
    classifier's codegen regexp passes)."""
    p = plan_of(spark, "quality_classifier_calibration")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    assert "HashAggregate" in p


def test_compacted_store_read_is_marker_free_and_pruned(spark):
    """Compaction's whole point in the plan: the compacted store serves
    WITHOUT the per-(id, cell) latest-wins window the upserted store
    pays (marker-gated), while staying partition-pruned and
    Python-free — the zero-maintenance-cost read path, pinned."""
    p = plan_of(spark, "ann_ivfpq_compacted_knn")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    assert "Window" not in p
    assert "PartitionFilters" in p or "cell IN" in p


def test_unigram_vocab_training_is_jvm_only(spark):
    """The unigram-LM vocabulary trainer must be pure DataFrame
    aggregation — the substring explode is a JVM sequence+substring
    projection, never Python; only the Viterbi DP (bounded by DISTINCT
    words) crosses the Arrow boundary."""
    from openai_vector_search_demo_spark.operators.unigram_lm import (
        train_unigram_vocab,
        word_frequencies,
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    voc = train_unigram_vocab(word_frequencies(docs))
    p = _physical(voc)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    # r16: the trained vocabulary is localCheckpoint-ed (the substring
    # aggregation executed ONCE, during training) — the returned plan
    # is the materialized vocab, and the JVM-only aggregation shape is
    # pinned on the trainer's input pipeline instead
    assert "ExistingRDD" in p
    wp = _physical(word_frequencies(docs))
    assert "HashAggregate" in wp
    assert "BatchEvalPython" not in wp and "ArrowEvalPython" not in wp
