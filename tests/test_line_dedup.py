"""Cross-document line dedup (operators/line_dedup.py) — hand-computed
policies, order preservation, and edge cases."""

import pytest

from openai_vector_search_demo_spark.operators.line_dedup import (
    dedup_lines_across_docs,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "unique alpha\nshared banner\nunique beta"),
        (1, "shared banner\nunique gamma"),
        (2, "unique delta\nunique delta\nshared banner"),
        (3, "\n\n"),          # no non-empty line: no output row
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_boilerplate_drops_every_occurrence(spark, docs):
    out = {r.doc_id: r for r in
           dedup_lines_across_docs(docs, policy="boilerplate").collect()}
    assert set(out) == {0, 1, 2}
    # 'shared banner' is in 3 docs -> gone everywhere; the WITHIN-doc
    # repeat 'unique delta' is one doc -> kept (that's repetition.py's
    # job, not this operator's)
    assert out[0].text == "unique alpha\nunique beta"
    assert out[1].text == "unique gamma"
    assert out[2].text == "unique delta\nunique delta"
    assert (out[0].n_lines, out[0].n_kept, out[0].n_removed) == (3, 2, 1)
    assert (out[2].n_lines, out[2].n_kept, out[2].n_removed) == (3, 2, 1)


def test_keep_first_keeps_globally_smallest_occurrence(spark, docs):
    out = {r.doc_id: r for r in
           dedup_lines_across_docs(docs, policy="keep_first").collect()}
    # 'shared banner': first occurrence is (doc 0, pos 1) -> doc 0 keeps
    # it, docs 1 and 2 lose it; 'unique delta' repeats within doc 2 at
    # (2,0),(2,1) -> keep (2,0) only
    assert out[0].text == "unique alpha\nshared banner\nunique beta"
    assert out[1].text == "unique gamma"
    assert out[2].text == "unique delta"
    assert (out[2].n_lines, out[2].n_kept, out[2].n_removed) == (3, 1, 2)


def test_all_lines_removed_yields_empty_text(spark):
    df = spark.createDataFrame(
        [(0, "same"), (1, "same")], "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup_lines_across_docs(df, min_docs=2).collect()}
    assert out[0].text == "" and out[1].text == ""
    assert out[0].n_kept == 0 and out[0].n_removed == 1


def test_min_docs_threshold(spark, docs):
    out = {r.doc_id: r for r in
           dedup_lines_across_docs(docs, min_docs=4).collect()}
    # threshold above any line's doc count: nothing removed
    assert all(r.n_removed == 0 for r in out.values())
    assert out[0].text == "unique alpha\nshared banner\nunique beta"


def test_unknown_policy_raises(spark, docs):
    with pytest.raises(ValueError):
        dedup_lines_across_docs(docs, policy="nope")


def test_incremental_equals_batch_rule(spark, docs, tmp_path):
    """Two-shard ingestion == the one-shot keep_first rule ordered by
    (batch, doc_id, pos): shard A (even docs) first, then shard B."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.operators.line_dedup import (
        dedup_lines_against_index,
        ingest_lines_against_index,
        write_line_index,
    )

    store = str(tmp_path / "lidx")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    write_line_index(a, store)
    out_b = {r.doc_id: r for r in
             dedup_lines_against_index(spark, b, store).collect()}
    # doc 1 = "shared banner\nunique gamma": 'shared banner' is in shard
    # A (docs 0, 2) -> dropped; doc 3 has no non-empty line -> no row
    assert set(out_b) == {1}
    assert out_b[1].text == "unique gamma"
    assert (out_b[1].n_lines, out_b[1].n_kept, out_b[1].n_removed) \
        == (2, 1, 1)

    # the ingest loop: B's surviving lines join the store with B's
    # docs as OWNERS
    out_b2 = ingest_lines_against_index(spark, b, store)
    assert {r.doc_id: r.text for r in out_b2.collect()} \
        == {1: "unique gamma"}
    # REPLAY of the same batch (at-least-once): docs own their kept
    # lines, so the original output reproduces exactly — and the
    # byte-identical owner re-append collapses at read
    replay = {r.doc_id: r for r in
              ingest_lines_against_index(spark, b, store).collect()}
    assert replay[1].text == "unique gamma" and replay[1].n_kept == 1
    # the same CONTENT under NEW doc ids is genuine duplication: drops
    b_new = b.select((F.col("doc_id") + 50).alias("doc_id"), "text")
    again = {r.doc_id: r for r in
             dedup_lines_against_index(spark, b_new, store).collect()}
    assert again[51].n_kept == 0 and again[51].text == ""


def test_within_batch_keep_first_against_index(spark, tmp_path):
    """A line repeated WITHIN the arriving batch (and absent from the
    store) keeps only its first (doc_id, pos) occurrence."""
    from openai_vector_search_demo_spark.operators.line_dedup import (
        dedup_lines_against_index,
        write_line_index,
    )

    hist = spark.createDataFrame([(100, "old line")],
                                 "doc_id long, text string")
    batch = spark.createDataFrame(
        [(0, "new line\nold line"), (1, "new line\nfresh")],
        "doc_id long, text string")
    store = str(tmp_path / "lidx2")
    write_line_index(hist, store)
    out = {r.doc_id: r for r in
           dedup_lines_against_index(spark, batch, store).collect()}
    assert out[0].text == "new line"       # 'old line' is history
    assert out[1].text == "fresh"          # 'new line' kept at (0, 0)


def _owner_rows(spark, store):
    """The store's owner rows: its base plus the segments its manifest
    names."""
    from openai_vector_search_demo_spark.stores import (
        SEGMENTS,
        layer_paths,
        read_layer,
        read_manifest,
    )
    return sorted((r.lh, r.doc_id) for r in read_layer(
        spark, layer_paths(store, read_manifest(spark, store, SEGMENTS)),
        "lh string, doc_id long").collect())


def test_ingest_batch_repeating_a_doc_id(spark, tmp_path):
    """A batch that repeats a doc id (an at-least-once duplicate inside
    one batch) yields ONE row for that id: keep_first keeps one
    occurrence per line, the id's rows' line counts add up, and one
    owner row per kept line joins the store.  A replay of the batch
    reproduces the output and writes only byte-identical owners."""
    from hashlib import md5

    from openai_vector_search_demo_spark.operators.line_dedup import (
        ingest_lines_against_index,
        write_line_index,
    )

    store = str(tmp_path / "lidx_rep")
    write_line_index(spark.createDataFrame([(100, "old")],
                                           "doc_id long, text string"),
                     store)
    batch = spark.createDataFrame(
        [(5, "a\nb"), (5, "a\nb"), (6, "b\nc\nold")],
        "doc_id long, text string")
    want = {5: ("a\nb", 4, 2, 2), 6: ("c", 3, 1, 2)}

    def admit():
        rows = ingest_lines_against_index(spark, batch, store).collect()
        assert len(rows) == len({r.doc_id for r in rows})
        return {r.doc_id: (r.text, r.n_lines, r.n_kept, r.n_removed)
                for r in rows}

    assert admit() == want
    owners = [(md5(x.encode()).hexdigest(), d)
              for x, d in (("a", 5), ("b", 5), ("c", 6), ("old", 100))]
    assert _owner_rows(spark, store) == sorted(owners)
    assert admit() == want
    assert _owner_rows(spark, store) == sorted(
        owners + [o for o in owners if o[1] != 100])


def test_ingest_replay_with_owned_lines(spark, tmp_path):
    """A replayed batch whose docs own stored lines reproduces its
    output, also when a NEW doc with a smaller id shares an owned line:
    the owner keeps its first occurrence and the new doc drops it (the
    owner rule goes by the stored owner, not by batch order)."""
    from openai_vector_search_demo_spark.operators.line_dedup import (
        dedup_lines_against_index,
        ingest_lines_against_index,
        write_line_index,
    )

    store = str(tmp_path / "lidx_own")
    write_line_index(spark.createDataFrame([(1, "hist")],
                                           "doc_id long, text string"),
                     store)
    first = spark.createDataFrame([(10, "x\nw\nx\nhist")],
                                  "doc_id long, text string")
    texts = {r.doc_id: r.text for r in
             ingest_lines_against_index(spark, first, store).collect()}
    assert texts == {10: "x\nw"}
    mixed = spark.createDataFrame([(3, "x\ny"), (10, "x\nw\nx\nhist")],
                                  "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_kept) for r in
           dedup_lines_against_index(spark, mixed, store).collect()}
    assert got == {3: ("y", 1), 10: ("x\nw", 2)}


def test_bloom_membership_and_python_twin(spark):
    """The bitmap build and the map-only admission agree with a plain
    Python Bloom twin (same md5-derived positions), and a line absent
    from the filter survives."""
    import hashlib

    from openai_vector_search_demo_spark.operators.line_dedup import (
        BLOOM_K,
        BLOOM_M_BITS,
        bloom_admit_lines,
        bloom_line_bitmap,
    )

    hist = spark.createDataFrame(
        [(0, "seen one\nseen two"), (1, "seen three")],
        "doc_id long, text string")
    bitmap = bloom_line_bitmap(hist)

    def py_positions(line):
        return [int(hashlib.md5(f"{j}|{line}".encode())
                    .hexdigest()[:15], 16) % BLOOM_M_BITS
                for j in range(BLOOM_K)]

    for line in ("seen one", "seen two", "seen three"):
        assert all(bitmap[p // 63] >> (p % 63) & 1
                   for p in py_positions(line)), line

    batch = spark.createDataFrame(
        [(10, "seen two\nbrand new line")], "doc_id long, text string")
    out = bloom_admit_lines(batch, bitmap).collect()[0]
    assert out.text == "brand new line"
    assert (out.n_lines, out.n_kept, out.n_removed) == (2, 1, 1)
