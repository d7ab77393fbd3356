"""Structured Streaming ⇔ batch equivalence (engine extension, SURVEY §2.6).

The streaming jobs reuse the exact batch transformations; these tests prove
the streaming execution mode produces the same results — including under
re-delivery (at-least-once) for the idempotent ingest path.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def workdir(tmp_path):
    yield tmp_path
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_stream_tumbling_equals_batch(spark, workdir):
    from openai_vector_search_demo_spark.operators.windows import tumbling_counts
    from openai_vector_search_demo_spark.queries import load_events
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_tumbling_counts,
    )

    events = load_events(spark, SF)
    # stage as a stream-watchable directory (micros ts — nanos already handled)
    src = str(workdir / "events_in")
    events.write.parquet(src)

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).format("parquet").load(src))
    q = (stream_tumbling_counts(stream, "1 hour", watermark="100 days")
         .writeStream.format("memory").queryName("tumbling_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {tuple(r) for r in spark.sql("SELECT * FROM tumbling_test").collect()}
    want = {tuple(r) for r in tumbling_counts(events, "1 hour").collect()}
    assert got == want


def test_stream_dedup_first_occurrence_wins(spark, workdir):
    from openai_vector_search_demo_spark.streaming.jobs import (
        DOCUMENTS_SCHEMA,
        stream_dedup_documents,
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    dup = docs.unionByName(docs)            # every doc twice
    src = str(workdir / "dup_in")
    dup.write.parquet(src)
    stream = (spark.readStream.schema(DOCUMENTS_SCHEMA)
              .format("parquet").load(src))
    q = (stream_dedup_documents(stream)
         .writeStream.format("memory").queryName("dedup_stream_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM dedup_stream_test")
    assert out.count() == 30
    assert out.select("fingerprint").distinct().count() == 30


@pytest.mark.slow
def test_stateful_running_stats_matches_batch(spark, workdir):
    from openai_vector_search_demo_spark.queries import load_events
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_user_running_stats,
    )
    events = load_events(spark, SF).select("user_id", "value", "ts")
    src = str(workdir / "ev_in")
    events.write.parquet(src)
    stream = (spark.readStream.schema(events.schema)
              .format("parquet").load(src))
    q = (stream_user_running_stats(stream)
         .writeStream.format("memory").queryName("stateful_test")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # last emitted row per user == the batch aggregate
    got = {r.user_id: (r.n_events, round(r.sum_value, 6))
           for r in spark.sql("SELECT * FROM stateful_test").collect()}
    want = {r.user_id: (r.n, round(r.s, 6))
            for r in events.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()}
    assert got == want


def test_stream_dedup_watermarked_collapses_same_text_different_time(spark, workdir):
    """Regression: the ts_col branch must dedup on fingerprint ALONE —
    dropDuplicates(["fingerprint", ts]) keyed on the pair and never
    collapsed same-text rows arriving at different event times."""
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_dedup_documents,
    )
    rows = [(1, "same text content", "2024-01-01 10:00:00"),
            (2, "same text content", "2024-01-01 10:05:00"),
            (3, "different text here", "2024-01-01 10:10:00")]
    df = (spark.createDataFrame(rows, "doc_id long, text string, ts_s string")
          .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s"))
    src = str(workdir / "wm_in")
    df.write.parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .format("parquet").load(src))
    q = (stream_dedup_documents(stream, ts_col="ts")
         .writeStream.format("memory").queryName("wm_dedup_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM wm_dedup_test")
    assert out.select("fingerprint").distinct().count() == out.count() == 2


def test_stream_ingest_idempotent_under_redelivery(spark, workdir):
    from openai_vector_search_demo_spark.operators.dedup import latest_wins
    from openai_vector_search_demo_spark.plans.pipeline import ingest_documents
    from openai_vector_search_demo_spark.streaming.jobs import (
        read_document_stream,
        stream_ingest_documents,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    src, out = str(workdir / "docs_in"), str(workdir / "chunks_out")
    ck1, ck2 = str(workdir / "ck1"), str(workdir / "ck2")

    docs.write.parquet(src)
    stream_ingest_documents(read_document_stream(spark, src), out, ck1) \
        .start().awaitTermination(120)
    # simulate at-least-once re-delivery: fresh checkpoint, same files
    stream_ingest_documents(read_document_stream(spark, src), out, ck2) \
        .start().awaitTermination(120)

    raw = spark.read.parquet(out)
    assert raw.count() > 0
    deduped = latest_wins(raw, keys=["tenant", "doc_path", "page_no"],
                          order_col="batch_id")
    batch = ingest_documents(docs, text_col="text", path_col="source")
    # after latest-wins, re-delivered rows collapse to the batch result
    got = {(r.id, r.page_content) for r in deduped.collect()}
    want = {(r.id, r.page_content) for r in batch.collect()}
    assert got == want


def test_stream_stream_join_equals_batch(spark, workdir):
    """Stream-stream interval join (watermarks both sides + event-time range
    — the state-bounding requirements) ≡ the same join run as a batch plan:
    every click paired with that user's purchases within the next hour."""
    from openai_vector_search_demo_spark.queries import load_events
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_event_followup_join,
    )

    events = load_events(spark, SF).select("event_id", "ts", "user_id",
                                           "event_type")
    src = str(workdir / "events_in")
    events.write.parquet(src)

    def split(df):
        return (df.filter(F.col("event_type") == "click"),
                df.filter(F.col("event_type") == "purchase"))

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 2).format("parquet").load(src))
    q = (stream_event_followup_join(*split(stream), within="1 hour",
                                    watermark="100 days")
         .writeStream.format("memory").queryName("ss_join_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.sql("SELECT * FROM ss_join_test").collect()}
    want = {tuple(r) for r in
            stream_event_followup_join(*split(events), within="1 hour",
                                       watermark="100 days").collect()}
    spark.catalog.dropTempView("ss_join_test")
    assert len(want) > 0
    assert got == want


def test_stream_ingest_assigns_lsh_buckets(spark, workdir):
    """ANN index maintenance inside the stream: chunks written by the
    streaming ingest carry the same LSH bucket the batch assignment
    computes — similarity queries can prune immediately, no separate
    index-build job."""
    from openai_vector_search_demo_spark.operators.ann import (
        hyperplanes,
        lsh_assign,
    )
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_ingest_documents,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    src, out, ckpt = (str(workdir / d) for d in ("in", "out", "ckpt"))
    docs.write.parquet(src)
    stream = (spark.readStream.schema(docs.schema).format("parquet").load(src))
    planes = hyperplanes(64, nbits=8, seed=42)
    q = stream_ingest_documents(stream, out, ckpt,
                                lsh_planes=planes).start()
    q.awaitTermination(120)

    written = spark.read.parquet(out)
    assert "bucket" in written.columns
    got = {r.id: r.bucket for r in written.collect()}
    want = {r.id: r.bucket for r in
            lsh_assign(written.drop("bucket"), planes=planes).collect()}
    assert len(got) > 0 and got == want


def test_stream_sees_fixture_timestamps_like_batch(spark):
    """Encoding-drift guard (the r5 silent failure): a hardcoded stream
    schema once misread a regenerated timestamp[us] events fixture as
    nanos-as-long — timestamps compressed 1000×, windows silently wrong.
    The streaming read of the REAL fixture must see the same min/max
    event time as the adaptive batch loader, byte for byte."""
    from openai_vector_search_demo_spark.queries import (
        _events_ts_us,
        _read_events_raw,
        load_events,
    )
    batch = load_events(spark, SF)
    want = batch.agg(F.min("ts_us"), F.max("ts_us")).first()

    raw = _read_events_raw(spark, SF)
    stream = (spark.readStream.schema(raw.schema)
              .format("parquet").option("pathGlobFilter", "events.parquet")
              .load(SF)
              .withColumn("ts_us", _events_ts_us(raw)))
    q = (stream.agg(F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx"))
         .writeStream.format("memory").queryName("ts_guard")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT mn, mx FROM ts_guard").first()
    assert (got.mn, got.mx) == (want[0], want[1])


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _has_protobuf(), reason=(
    "transformWithStateInPandas needs the protobuf package (the stateful-"
    "processor API client); standard on Spark 4 deployments.  In this "
    "container conftest.py activates vendor/pbshim (the cloud-sdk vendored "
    "pure-python runtime under its canonical name), so this only skips "
    "where neither a real protobuf nor that runtime exists"))
@pytest.mark.slow
def test_tws_running_stats_matches_batch(spark, workdir):
    """The transformWithStateInPandas twin must reproduce the legacy
    applyInPandasWithState operator's batch equivalence: last emitted row
    per user == the batch aggregate."""
    from openai_vector_search_demo_spark.queries import load_events
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_user_running_stats_tws,
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        events = load_events(spark, SF).select("user_id", "value", "ts")
        src = str(workdir / "tws_in")
        events.write.parquet(src)
        stream = (spark.readStream.schema(events.schema)
                  .format("parquet").load(src))
        q = (stream_user_running_stats_tws(stream)
             .writeStream.format("memory").queryName("tws_equiv_test")
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r.user_id: (r.n_events, round(r.sum_value, 6))
               for r in spark.sql("SELECT * FROM tws_equiv_test").collect()}
        want = {r.user_id: (r.n, round(r.s, 6))
                for r in events.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("value").alias("s")).collect()}
        assert got == want
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)


def test_tws_operator_constructs_unstreamed(spark):
    """Plan-construction smoke that runs WITHOUT protobuf: the operator
    must analyze (schema resolved, processor accepted) even where the
    streaming runtime's python worker can't start."""
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_user_running_stats_tws,
    )
    events = spark.createDataFrame(
        [], "user_id long, value double, ts timestamp")
    src = events._jdf  # noqa: F841 — force schema materialization
    stream = (spark.readStream.format("rate").load()
              .selectExpr("value AS user_id",
                          "CAST(value AS DOUBLE) AS value",
                          "timestamp AS ts"))
    out = stream_user_running_stats_tws(stream)
    assert [f.name for f in out.schema.fields] == [
        "user_id", "n_events", "sum_value", "closed"]


def test_stream_neardup_gate_equals_batch_across_microbatches(spark,
                                                              workdir):
    """The live near-dup gate's correctness claim: because micro-batches
    partition the new side and the store carries all cross-batch
    knowledge, the concatenated per-batch matches EQUAL the batch
    cross-dedup — here forced through MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over a two-file arrival directory) to pin that
    the equality does not depend on everything landing in one batch."""
    import tempfile

    from openai_vector_search_demo_spark.operators.dedup import (
        minhash_lsh_cross,
        write_band_index,
    )
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_neardup_gate,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    new = (docs.filter(F.col("doc_id") % 4 == 0)
           .withColumn("doc_id", F.col("doc_id") + 1000000))
    store = str(workdir / "band_store")
    write_band_index(docs, store, k=3, num_hashes=16, bands=4)

    src = str(workdir / "arrivals")
    new.filter(F.col("doc_id") % 8 == 0).write.parquet(src)
    new.filter(F.col("doc_id") % 8 != 0).write.mode("append").parquet(src)

    batches: list = []
    stream = (spark.readStream.schema(new.schema)
              .option("maxFilesPerTrigger", 1).format("parquet").load(src))
    q = (stream_neardup_gate(stream, store,
                             lambda df, bid: batches.append(df.collect()))
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix="neardup_test_"))
         .start())
    q.awaitTermination(180)

    assert len(batches) >= 2  # the split actually exercised >1 micro-batch
    got = {tuple(r) for b in batches for r in b}
    want = {tuple(r) for r in
            minhash_lsh_cross(new, docs, k=3, num_hashes=16, bands=4,
                              threshold=0.5).collect()}
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_stream_ingest_loop_equals_batch_loop(spark, workdir):
    """append_admitted=True makes the gate the full continuous-ingestion
    loop live: batch-2 arrivals must be rejected against batch-1
    SURVIVORS (appended mid-stream), and the per-round matches must
    equal the batch loop's — arrival order forced via file mtimes +
    maxFilesPerTrigger=1, one file per round (micro-batch boundaries
    must match the batch loop's rounds for the equality to be exact:
    neither form cross-checks docs WITHIN one round)."""
    import glob
    import os
    import tempfile
    import time as _time

    from openai_vector_search_demo_spark.operators.dedup import (
        ingest_batch_against_index,
        write_band_index,
    )
    from openai_vector_search_demo_spark.streaming.jobs import (
        stream_neardup_gate,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 300)
    fresh1 = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350))
    b1 = fresh1.unionByName(          # fresh docs + verbatim re-arrivals
        corpus.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000))
    b2 = (fresh1.withColumn("doc_id", F.col("doc_id") + 2000000)
          .unionByName(               # copies of b1 survivors + new fresh
              docs.filter((F.col("doc_id") >= 350)
                          & (F.col("doc_id") < 400))
              .withColumn("doc_id", F.col("doc_id") + 2000000)))

    store_a = str(workdir / "batch_store")
    write_band_index(corpus, store_a)
    want = [
        {tuple(r) for r in
         ingest_batch_against_index(spark, b1, store_a).collect()},
        {tuple(r) for r in
         ingest_batch_against_index(spark, b2, store_a).collect()},
    ]
    assert want[0] and want[1]
    # the append worked batch-side: some b2 copy matched a b1 survivor
    assert any(300 <= ex < 350 for _, ex, _ in want[1])

    store_b = str(workdir / "stream_store")
    write_band_index(corpus, store_b)
    src = str(workdir / "arrivals")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")),
                   key=os.path.getmtime)
    now = _time.time()
    os.utime(parts[0], (now - 100, now - 100))
    os.utime(parts[1], (now, now))

    batches: list = []
    stream = (spark.readStream.schema(b1.schema)
              .option("maxFilesPerTrigger", 1).format("parquet").load(src))
    q = (stream_neardup_gate(stream, store_b,
                             lambda df, bid: batches.append(df.collect()),
                             append_admitted=True)
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix="ingestloop_stream_"))
         .start())
    q.awaitTermination(180)

    assert len(batches) == 2
    assert [{tuple(r) for r in b} for b in batches] == want


def test_driver_local_slots_leave_no_temp_dirs(spark, store_root):
    """The ingest-loop and the two streaming gate slots return
    driver-local rows, so their band store and checkpoints are removed
    before they return: no run adds an entry to the temp directory."""
    import glob
    import os
    import tempfile

    from openai_vector_search_demo_spark import queries as Q

    prefixes = ("ingest_loop_", "neardupgate_", "decontamgate_")

    def entries():
        return {p for prefix in prefixes for p in glob.glob(
            os.path.join(tempfile.gettempdir(), prefix + "*"))}

    before = entries()
    for name in ("dedup_ingest_loop", "streaming_neardup_gate",
                 "streaming_decontamination_gate"):
        Q.SPARK_QUERIES[name](spark, SF).collect()
        assert entries() == before, name
