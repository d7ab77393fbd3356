"""Property tests for dedup operators (SURVEY §5.3 style)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat again and again"),  # near dup of 1
        (4, "completely different content about spark shuffle partitions here"),
        (5, "tiny"),                                                         # < k tokens
        (6, "THE  Quick   Brown fox jumps over the lazy dog again and again"),  # ws/case variant
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_collapses_normalized_variants(corpus):
    from openai_vector_search_demo_spark.operators.dedup import exact_dedup
    out = exact_dedup(corpus).collect()
    by_id = {r.doc_id: r.dup_count for r in out}
    # 1, 2 and 6 normalize identically -> one group, min id 1, count 3
    assert by_id[1] == 3
    assert 2 not in by_id and 6 not in by_id
    assert by_id[3] == 1 and by_id[4] == 1 and by_id[5] == 1


def test_jaccard_pairs_find_near_dup_and_respect_threshold(corpus):
    from openai_vector_search_demo_spark.operators.dedup import ngram_jaccard_pairs
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0          # identical shingle sets
    assert (1, 3) in pairs               # one word changed -> high overlap
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)  # unrelated/short never pair


def test_minhash_lsh_subset_of_exact_jaccard(corpus):
    from openai_vector_search_demo_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    exact = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(corpus, threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(corpus, threshold=0.5).collect()}
    # verification step guarantees no false positives
    assert lsh <= exact
    # identical docs collide on every band -> always recalled
    assert (1, 2) in lsh


def test_simhash_identical_docs_distance_zero(corpus):
    from openai_vector_search_demo_spark.operators.dedup import simhash_pairs
    out = {(r.id_a, r.id_b): r.hamming
           for r in simhash_pairs(corpus, max_hamming=3, bands=4).collect()}
    assert out[(1, 2)] == 0


def test_simhash_band_join_equals_brute_force(spark, corpus):
    from openai_vector_search_demo_spark.operators.dedup import (
        hamming64,
        simhash,
        simhash_pairs,
    )
    sig = simhash(corpus)
    a = sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = {(r.id_a, r.id_b) for r in
             (a.join(b, F.col("id_a") < F.col("id_b"))
              .filter(hamming64("sh_a", "sh_b") <= 3)).collect()}
    banded = {(r.id_a, r.id_b) for r in
              simhash_pairs(corpus, max_hamming=3, bands=4).collect()}
    assert banded == brute


def test_embedding_near_dup_symmetry_free_and_thresholded(spark):
    from openai_vector_search_demo_spark.operators.dedup import embedding_near_dup
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_near_dup(df, threshold=0.95).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}
    assert all(r.id_a < r.id_b for r in out)


@pytest.mark.slow
def test_embedding_near_dup_methods_agree(spark):
    """blocked (distributed default) ≡ driver ≡ sql on a random fixture —
    and the blocked plan stays exact for any block count."""
    import numpy as np

    from openai_vector_search_demo_spark.operators.dedup import embedding_near_dup
    rng = np.random.RandomState(7)
    base = rng.randn(40, 8)
    base[13] = base[5] + 0.01 * rng.randn(8)   # planted near-dups
    base[29] = base[11] + 0.01 * rng.randn(8)
    rows = [(i, [float(x) for x in base[i]]) for i in range(len(base))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def key(res):
        return {(r.id_a, r.id_b, round(r.cosine, 6)) for r in res.collect()}

    expected = key(embedding_near_dup(df, threshold=0.6, method="driver"))
    assert expected  # planted pairs found
    assert key(embedding_near_dup(df, threshold=0.6, method="sql")) == expected
    for b in (1, 3, 8):
        got = key(embedding_near_dup(df, threshold=0.6, method="blocked",
                                     num_blocks=b))
        assert got == expected, f"num_blocks={b}"


def test_embedding_near_dup_default_plan_has_no_collect(spark):
    """The default path must be fully distributed: its physical plan is
    exchange→applyInPandas — never a driver-side collect/broadcast of the
    corpus (the r1 scale-killer)."""
    from openai_vector_search_demo_spark.operators.dedup import embedding_near_dup
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])],
                               ["vec_id", "embedding"])
    plan = embedding_near_dup(df, threshold=0.9)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    # building the DataFrame ran no job: nothing was collected eagerly
    assert "Broadcast" not in plan


def test_jaccard_hot_shingle_cap_drops_boilerplate_pairs(spark):
    """Docs sharing ONLY a boilerplate shingle pair without the cap and must
    not pair with it; genuinely-similar docs keep pairing either way."""
    from openai_vector_search_demo_spark.operators.dedup import ngram_jaccard_pairs
    boiler = "all rights reserved"
    rows = [
        (1, f"{boiler} alpha beta gamma delta"),
        (2, f"{boiler} epsilon zeta eta theta"),
        (3, f"{boiler} iota kappa lambda mu"),
        (4, "unique text one two three four five six"),
        (5, "unique text one two three four five seven"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {(r.id_a, r.id_b) for r in
                ngram_jaccard_pairs(df, k=3, threshold=0.1).collect()}
    capped = {(r.id_a, r.id_b) for r in
              ngram_jaccard_pairs(df, k=3, threshold=0.1,
                                  max_shingle_df=2).collect()}
    assert (1, 2) in uncapped and (1, 3) in uncapped  # boilerplate pairs
    assert not any({a, b} <= {1, 2, 3} for a, b in capped)  # cap kills them
    assert (4, 5) in uncapped and (4, 5) in capped  # real similarity survives


def test_latest_wins(spark):
    from openai_vector_search_demo_spark.operators.dedup import latest_wins
    log = spark.createDataFrame(
        [(1, 0, "old"), (1, 1, "new"), (2, 0, "only")],
        ["doc_id", "version", "text"])
    out = {r.doc_id: r.text for r in
           latest_wins(log, keys=["doc_id"], order_col="version").collect()}
    assert out == {1: "new", 2: "only"}


def test_shingles_short_doc_empty(spark):
    from openai_vector_search_demo_spark.functions.text_analysis import shingles
    df = spark.createDataFrame([("a b",), ("a b c",), ("",)], ["text"])
    out = [r[0] for r in df.select(shingles("text", 3)).collect()]
    assert out[0] == [] and out[2] == []
    assert out[1] == ["a b c"]


def test_language_id_on_real_phrases(spark):
    from openai_vector_search_demo_spark.functions.text_analysis import language_id
    df = spark.createDataFrame(
        [("the cat is on the mat and it is not alone",),
         ("der hund ist nicht auf der matte und das ist gut",),
         ("le chat est sur le tapis et il est dans la maison",),
         ("xyzzy plugh qwerty",)],
        ["text"])
    out = [r[0] for r in df.select(language_id("text")).collect()]
    assert out == ["en", "de", "fr", "und"]


# ---------------------------------------------------------------------------
# duplicate_clusters — connected components over pairs
# ---------------------------------------------------------------------------

def _union_find_clusters(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_duplicate_clusters_chain_collapses(spark):
    """A~B, B~C, C~D: transitive chain -> ONE cluster rooted at the min id —
    exactly what no pairwise operation can produce."""
    from openai_vector_search_demo_spark.operators.dedup import (
        duplicate_clusters,
    )
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4)], ["id_a", "id_b"])
    got = {r.id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


@pytest.mark.parametrize("threshold", [1_000_000, 0])
def test_duplicate_clusters_matches_union_find(spark, threshold):
    """Random multi-component graph ≡ driver union-find ground truth —
    through BOTH the small-graph driver fast path (default threshold) and
    the distributed large-star/small-star loop (threshold=0)."""
    import random

    from openai_vector_search_demo_spark.operators.dedup import (
        duplicate_clusters,
    )
    rng = random.Random(7)
    pairs = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    pairs = [(a, b) for a, b in pairs if a != b]
    expect = _union_find_clusters(pairs)
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    got = {r.id: r.cluster_id
           for r in duplicate_clusters(df, driver_threshold=threshold).collect()}
    assert got == expect


def test_duplicate_clusters_long_chain_beats_diameter(spark):
    """A 64-node path graph through the DISTRIBUTED path (threshold=0):
    label propagation would need 64 rounds; large-star/small-star must
    converge within the 25-round cap."""
    from openai_vector_search_demo_spark.operators.dedup import (
        duplicate_clusters,
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["id_a", "id_b"])
    got = {r.id: r.cluster_id
           for r in duplicate_clusters(pairs, driver_threshold=0).collect()}
    assert got == {i: 0 for i in range(64)}


def test_duplicate_clusters_empty_pairs(spark):
    from openai_vector_search_demo_spark.operators.dedup import (
        duplicate_clusters,
    )
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert duplicate_clusters(pairs).count() == 0


def test_ngram_jaccard_auto_cap(spark):
    """max_shingle_df='auto' derives the cap from corpus size (√n, floor
    50) and equals the explicitly-capped run; with n_docs supplied, plan
    build runs no count job."""
    from openai_vector_search_demo_spark.operators.dedup import (
        adaptive_shingle_df,
        ngram_jaccard_pairs,
    )
    assert adaptive_shingle_df(100) == 50          # floor
    assert adaptive_shingle_df(1_000_000) == 1000  # √n
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    n = docs.count()
    auto = ngram_jaccard_pairs(docs, max_shingle_df="auto", n_docs=n,
                               cache=False).collect()
    explicit = ngram_jaccard_pairs(docs,
                                   max_shingle_df=adaptive_shingle_df(n),
                                   cache=False).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))

    cls = type(docs)
    real_count = cls.count
    calls = []
    def counting(self, *a, **k):
        calls.append(1)
        return real_count(self)
    cls.count = counting
    try:
        ngram_jaccard_pairs(docs, max_shingle_df="auto", n_docs=n,
                            cache=False)           # plan build only
    finally:
        cls.count = real_count
    assert calls == []                             # no sizing job with n_docs


def test_ngram_jaccard_default_is_corpus_safe(spark):
    """The BARE call must carry the hot-shingle DF cap (default 'auto'):
    the optimized plan shows the DF-filter subtree, and `None` is an
    explicit opt-in to exact quadratic-on-hot-shingles semantics."""
    import inspect

    from openai_vector_search_demo_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    sig = inspect.signature(ngram_jaccard_pairs)
    assert sig.parameters["max_shingle_df"].default == "auto"
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(6)],
        ["doc_id", "text"])
    plan = ngram_jaccard_pairs(docs, n_docs=6)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "_df" in plan          # the DF-cap aggregation is in the plan
    exact = ngram_jaccard_pairs(docs, max_shingle_df=None)._jdf \
        .queryExecution().optimizedPlan().toString()
    assert "_df" not in exact


def test_merged_sig_udf_matches_explode_signatures(spark, corpus):
    """The numpy merged shingle+signature UDF must be bit-identical to the
    explode→groupBy form (same universal-hash constants, same mins) —
    including dropping shingle-less docs (sig null)."""
    from openai_vector_search_demo_spark.operators.dedup import (
        _shingle_sig_udf,
        minhash_signatures,
    )
    merged = (corpus.select("doc_id",
                            _shingle_sig_udf(3, 16)(F.col("text")).alias("ss"))
              .select("doc_id", F.col("ss.sig").alias("signature")))
    got = {r.doc_id: r.signature for r in merged.collect()}
    want = {r.id: r.signature for r in minhash_signatures(corpus).collect()}
    assert {k for k, v in got.items() if v is not None} == set(want)
    for k, v in want.items():
        assert got[k] == v


def test_pairs_with_side_rides_one_scan(spark, corpus):
    """Side columns come back from the SAME persisted scan — same rows as
    the input, with the requested extra columns evaluated."""
    from openai_vector_search_demo_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_with_side,
    )
    pairs, side = minhash_lsh_pairs_with_side(
        corpus, keep_cols=[F.length("text").alias("text_len")],
        threshold=0.5)
    side_rows = {r.id: r.text_len for r in side.collect()}
    want = {r.doc_id: len(r.text) for r in corpus.collect()}
    assert side_rows == want
    plain = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(corpus,
                                                         threshold=0.5).collect()}
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == plain


def test_pairs_with_side_rejects_reserved_aliases(spark, corpus):
    """keep_cols colliding with internal buffer columns must raise a clear
    ValueError instead of silently dropping the caller's column (ADVICE r6)."""
    import pytest as _pytest

    from openai_vector_search_demo_spark.operators.dedup import (
        minhash_lsh_pairs_with_side,
    )
    for bad in ("hs", "signature", "sz", "id"):
        with _pytest.raises(ValueError, match="reserved"):
            minhash_lsh_pairs_with_side(
                corpus, keep_cols=[F.length("text").alias(bad)])


def test_duplicate_clusters_probe_and_distributed_agree(spark):
    """The one-job limit-probe driver path and the forced distributed path
    (driver_threshold=0) must label identically — including when the pair
    count sits exactly at the threshold boundary."""
    from openai_vector_search_demo_spark.operators.dedup import (
        duplicate_clusters,
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], ["id_a", "id_b"])
    dist = {(r.id, r.cluster_id)
            for r in duplicate_clusters(pairs, driver_threshold=0).collect()}
    for thr in (5, 4):  # above and exactly-at the pair count... 5 pairs
        via_probe = {(r.id, r.cluster_id)
                     for r in duplicate_clusters(
                         pairs, driver_threshold=thr).collect()}
        assert via_probe == dist
    # below threshold: probe overflows, falls back to distributed — same
    under = {(r.id, r.cluster_id)
             for r in duplicate_clusters(pairs, driver_threshold=2).collect()}
    assert under == dist


def test_regex_scores_equal_scalar_hof_forms(spark):
    """The regexp_count-based pipeline forms must be value-identical to the
    scalar HOF forms on adversarial inputs: unicode whitespace inside
    tokens, punctuation-attached stopwords, marker-prefix/suffix tokens,
    repeated markers, empty and whitespace-only strings, CJK."""
    from openai_vector_search_demo_spark.functions import text_analysis as ta
    rows = [
        ("the the the and is a an THE And",),   # repeated + case variants
        ("them theory and. ,is (a) an|b",),     # prefix/suffix/punct-attached
        ("no break the and plain the",),  # U+00A0 inside tokens
        ("   ",), ("",), ("的 是 不 了 在 一句 的",),
        ("der die das und der-die el la les y",),
        ("word " * 60,),                         # length-term saturation
    ]
    df = spark.createDataFrame(rows, ["text"])
    new = ta.with_text_scores(df)
    old = df.select(
        "text",
        ta.quality_score("text").alias("q_old"),
        ta.language_id("text").alias("l_old"),
        ta.token_count("text").alias("n_old"))
    j = new.join(old, "text")
    for r in j.collect():
        assert abs(r.quality - r.q_old) < 1e-12, r.text
        assert r.lang_detected == r.l_old, r.text
        assert r.n_tokens == r.n_old, r.text


def test_decontaminate_flags_ngram_leaks(spark):
    from openai_vector_search_demo_spark.operators.dedup import decontaminate
    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two exactly")],
        ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(1, "some training text with the secret eval answer is inside"),
         (2, "completely unrelated content about shuffle partitions"),
         (3, "short")],
        ["doc_id", "text"])
    out = {r.doc_id: (r.bench_hits, r.contaminated)
           for r in decontaminate(corpus, bench, k=3).collect()}
    assert out[1][1] is True and out[1][0] >= 1   # shares 3-grams
    assert out[2] == (0, False)
    assert out[3] == (0, False)                   # < k tokens: no shingles
    # min_hits raises the bar
    strict = {r.doc_id: r.contaminated
              for r in decontaminate(corpus, bench, k=3,
                                     min_hits=100).collect()}
    assert strict[1] is False


# ---------------------------------------------------------------------------
# ngram_jaccard_cross — incremental (new batch vs existing corpus) dedup
# ---------------------------------------------------------------------------

def test_cross_corpus_finds_rearrivals_never_batch_pairs(spark):
    from openai_vector_search_demo_spark.operators.dedup import (
        ngram_jaccard_cross,
    )
    existing = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different text about spark engines here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog"),   # re-arrival
         (102, "the quick brown fox jumps over the lazy dog"),   # dup IN batch
         (103, "nothing in common with anything at all whatsoever")],
        "doc_id long, text string")
    out = ngram_jaccard_cross(new, existing, threshold=0.5,
                              max_shingle_df=None, cache=False).collect()
    pairs = {(r.new_id, r.existing_id): r.jaccard for r in out}
    assert pairs[(101, 1)] == 1.0
    assert pairs[(102, 1)] == 1.0
    # batch-internal duplicates (101, 102) are NOT this operator's job
    assert all(e in (1, 2) for _, e in pairs)
    assert not any(n == 103 for n, _ in pairs)


def test_cross_corpus_auto_cap_is_corpus_safe(spark):
    from openai_vector_search_demo_spark.operators.dedup import (
        ngram_jaccard_cross,
    )
    # identical boilerplate everywhere: with the combined-DF auto cap the
    # query still runs (bounded join) and exact re-arrivals still surface
    # because the floor (50) far exceeds this corpus's DF
    existing = spark.createDataFrame(
        [(i, f"shared header text block number {i} common footer line")
         for i in range(30)], "doc_id long, text string")
    new = existing.limit(5).withColumn(
        "doc_id", F.col("doc_id") + 1000)
    out = ngram_jaccard_cross(new, existing, threshold=0.9,
                              cache=False).collect()
    assert {(r.new_id - 1000, r.existing_id) for r in out} >= \
        {(i, i) for i in range(5)}


def test_minhash_cross_agrees_with_exact_cross_on_verbatim_rearrivals(spark):
    from openai_vector_search_demo_spark.operators.dedup import (
        minhash_lsh_cross,
        ngram_jaccard_cross,
    )
    existing = spark.createDataFrame(
        [(i, f"unique words {i} " + " ".join(f"tok{i}x{j}" for j in range(12)))
         for i in range(20)], "doc_id long, text string")
    new = existing.filter("doc_id % 2 = 0").withColumn(
        "doc_id", F.col("doc_id") + 500)
    lsh = {(r.new_id, r.existing_id): r.jaccard
           for r in minhash_lsh_cross(new, existing, threshold=0.5,
                                      cache=False).collect()}
    exact = {(r.new_id, r.existing_id): r.jaccard
             for r in ngram_jaccard_cross(new, existing, threshold=0.5,
                                          max_shingle_df=None,
                                          cache=False).collect()}
    # verbatim re-arrivals collide on EVERY band: LSH finds all of them
    assert {(i + 500, i) for i in range(0, 20, 2)} <= set(lsh)
    # no false positives, and verified jaccards agree with the exact form
    assert set(lsh) <= set(exact)
    assert all(lsh[p] == exact[p] for p in lsh)


def test_containment_catches_embedded_snippet_jaccard_misses(spark):
    from openai_vector_search_demo_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )
    big = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lambda mu nu xi omicron pi rho sigma tau upsilon")
    snippet = "alpha beta gamma delta epsilon zeta"       # 30% prefix
    df = spark.createDataFrame([(1, big), (2, snippet)],
                               "doc_id long, text string")
    cont = ngram_containment_pairs(df, threshold=0.8, max_shingle_df=None,
                                   cache=False).collect()
    got = {(r.inner_id, r.outer_id): (r.containment, r.jaccard)
           for r in cont}
    assert got[(2, 1)][0] == 1.0                          # fully contained
    assert got[(2, 1)][1] < 0.5                           # jaccard misses
    assert (1, 2) not in got                              # asymmetric
    jac = ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=None,
                              cache=False).collect()
    assert jac == []          # the symmetric operator finds nothing here


def test_containment_exact_duplicates_emit_both_directions(spark):
    from openai_vector_search_demo_spark.operators.dedup import (
        ngram_containment_pairs,
    )
    df = spark.createDataFrame([(1, "one two three four five"),
                                (2, "one two three four five")],
                               "doc_id long, text string")
    out = {(r.inner_id, r.outer_id) for r in
           ngram_containment_pairs(df, threshold=0.8, max_shingle_df=None,
                                   cache=False).collect()}
    assert out == {(1, 2), (2, 1)}


def test_drop_contained_chain_and_exact_dups(spark):
    from openai_vector_search_demo_spark.operators.dedup import (
        drop_contained,
    )
    a = "one two three four five"
    b = a + " six seven eight nine ten"
    c = b + " eleven twelve thirteen fourteen fifteen"
    rows = [(1, a), (2, b), (3, c), (10, "totally separate text here now"),
            (11, "totally separate text here now")]       # exact dup pair
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in drop_contained(df, threshold=0.9,
                                           max_shingle_df=None,
                                           cache=False).collect()}
    # chain: 1 and 2 dropped (best container wins), 3 survives
    assert set(out) == {1, 2, 11}
    assert out[2].dropped_by == 3
    assert out[1].dropped_by in (2, 3) and out[1].containment == 1.0
    # exact duplicates: equal sizes -> the LARGER id is dropped
    assert out[11].dropped_by == 10
    # survivors by anti-join
    kept = {r.doc_id for r in df.join(
        spark.createDataFrame([(k,) for k in out], "id long"),
        df.doc_id == F.col("id"), "left_anti").collect()}
    assert kept == {3, 10}


def test_fuzzy_match_blocking_and_verify(spark):
    from openai_vector_search_demo_spark.operators.fuzzy import (
        fuzzy_match_pairs,
    )
    rows = [(1, "acme corp"), (2, "acme corp"),       # exact dup: d=0
            (3, "acme c0rp"), (4, "akme corp"),
            (5, "totally other name"),
            (6, "acme inc")]                          # d=4 from acme corp
    df = spark.createDataFrame(rows, "id long, name string")
    out = {(r.name_a, r.name_b): r.distance
           for r in fuzzy_match_pairs(df, "name", threshold=2).collect()}
    assert out[("acme c0rp", "acme corp")] == 1
    assert out[("acme corp", "akme corp")] == 1
    # ("acme c0rp", "akme corp") has BOTH end tokens edited -> the
    # documented recall gap: absent despite d=2
    assert ("acme c0rp", "akme corp") not in out
    assert not any("acme inc" in p or "totally other name" in p
                   for p in out)
    # distinct collapses exact duplicates before pairing: no d=0 self-pair
    assert all(d >= 1 for d in out.values())


def test_fuzzy_match_recall_gap_is_the_documented_one(spark):
    from openai_vector_search_demo_spark.operators.fuzzy import (
        fuzzy_match_pairs,
    )
    # both end tokens edited (1+1): escapes both blocks — the documented
    # threshold=2 recall gap
    df = spark.createDataFrame([(1, "cold bolt"), (2, "old belt")],
                               "id long, name string")
    assert fuzzy_match_pairs(df, "name", threshold=2).collect() == []


def test_tfidf_cosine_pairs_semantics(spark):
    from openai_vector_search_demo_spark.queries import tfidf_cosine_pairs
    import tempfile, os
    rows = [(1, "apple banana cherry"),
            (2, "apple banana cherry"),          # identical -> cos 1
            (3, "apple banana grape"),           # shares 2 of 3 terms
            (4, "xylo zulu quux")]               # disjoint -> never paired
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        out = {(r.id_a, r.id_b): r.cosine
               for r in tfidf_cosine_pairs(spark, d).collect()}
    assert out[(1, 2)] == 1.0
    assert not any(4 in p for p in out)          # zero shared tokens
    # (1,3) share apple+banana but idf downweights; whatever the value,
    # symmetry with (2,3) must hold exactly
    assert out.get((1, 3)) == out.get((2, 3))


def test_band_index_stored_equals_inline(spark, tmp_path):
    """minhash_lsh_cross_stored over a write_band_index store must equal
    the inline minhash_lsh_cross exactly (shared prep/verify helpers,
    but the store round-trips entries + sigs through parquet)."""
    from openai_vector_search_demo_spark.operators.dedup import (
        minhash_lsh_cross,
        minhash_lsh_cross_stored,
        write_band_index,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    new = (docs.filter(F.col("doc_id") % 4 == 0)
           .withColumn("doc_id", F.col("doc_id") + 1000000))
    store = str(tmp_path / "band_index")
    write_band_index(docs, store)
    want = sorted(map(tuple,
                      minhash_lsh_cross(new, docs, cache=False).collect()))
    got = sorted(map(tuple,
                     minhash_lsh_cross_stored(spark, new, store,
                                              cache=False).collect()))
    assert got == want and len(got) > 0


def test_band_index_append_is_incremental(spark, tmp_path):
    """The continuous-ingestion loop: dedup batch 2 against a store that
    an admission round of batch 1 grew — batch-2 re-arrivals of batch-1
    docs are caught WITHOUT ever re-shingling the original corpus, and
    the result equals the inline operator over the corpus plus batch
    1's admitted docs."""
    from openai_vector_search_demo_spark.operators.dedup import (
        ingest_batch_against_index,
        minhash_lsh_cross,
        minhash_lsh_cross_stored,
        write_band_index,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 300)
    batch1 = (docs.filter((F.col("doc_id") >= 300)
                          & (F.col("doc_id") < 400)))
    # batch 2 re-arrives some base docs AND some batch-1 docs
    batch2 = (docs.filter((F.col("doc_id") % 7 == 0)
                          & (F.col("doc_id") < 400))
              .withColumn("doc_id", F.col("doc_id") + 2000000))
    store = str(tmp_path / "band_index_inc")
    write_band_index(base, store)
    rejected = sorted({r.new_id for r in
                       ingest_batch_against_index(spark, batch1, store)
                       .collect()})
    admitted = batch1.filter(~F.col("doc_id").isin(rejected))
    got = sorted(map(tuple,
                     minhash_lsh_cross_stored(spark, batch2, store,
                                              cache=False).collect()))
    want = sorted(map(tuple,
                      minhash_lsh_cross(batch2, base.unionByName(admitted),
                                        cache=False).collect()))
    assert got == want
    # every verbatim re-arrival must be caught (identical docs collide
    # on every band), including ones that entered via the append
    caught = {r[0] for r in got}
    expected_new_ids = {r.doc_id + 2000000 for r in
                        docs.filter((F.col("doc_id") % 7 == 0)
                                    & (F.col("doc_id") < 400)).collect()}
    assert expected_new_ids <= caught


def test_ingest_batch_shingles_once_and_appends_only_admitted(spark,
                                                              tmp_path):
    """The r12 admission-round operator: matches are pinned PRE-append
    (no jaccard-1.0 self-matches — the lazily-persisted-frame bug this
    operator's checkpoint guards against), only admitted docs' entries
    enter the store, and an identical re-ingest then rejects the whole
    batch (admission idempotence)."""
    from openai_vector_search_demo_spark.operators.dedup import (
        _read_band_store, ingest_batch_against_index, write_band_index)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 300)
    batch = (docs.filter((F.col("doc_id") % 7 == 0)
                         | (F.col("doc_id") >= 300))
             .withColumn("doc_id", F.col("doc_id") + 1000000))
    store = str(tmp_path / "ingest_store")
    write_band_index(base, store)
    m1 = ingest_batch_against_index(spark, batch, store)
    assert m1.filter(F.col("new_id") == F.col("existing_id")).count() == 0
    rejected = {r.new_id for r in m1.select("new_id").distinct().collect()}
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    admitted = batch_ids - rejected
    assert admitted and rejected  # both paths exercised
    # the store grew by exactly the admitted docs' rows
    rows = _read_band_store(spark, store, "bigint")
    stored_ids = {r.id_e for r in rows.select("id_e").collect()}
    assert stored_ids & batch_ids == admitted
    # idempotence: the same batch re-ingested is now fully rejected
    # (every doc matches either the base corpus or its own admitted copy)
    m2 = ingest_batch_against_index(spark, batch, store)
    assert {r.new_id for r in m2.select("new_id").distinct().collect()} \
        == batch_ids


def _band_rows(spark, store):
    """A band store's rows, sorted, read through the admission's own
    reader."""
    from openai_vector_search_demo_spark.operators.dedup import (
        _read_band_store,
    )
    return sorted((r.id_e, tuple(sorted(r.hs_e)), tuple(r.buckets))
                  for r in _read_band_store(spark, store, "bigint")
                  .collect())


def test_band_admission_killed_before_its_swap_leaves_the_store_unchanged(
        spark, tmp_path, monkeypatch):
    """A band admission killed while writing its one segment, or after
    writing it but before the manifest swap, leaves the store as it
    was: its rows read back unchanged.  A retry then returns what the
    same round returns on an uninterrupted twin store, leaves the
    twin's rows and no segment the manifest does not name, and a later
    batch still finds a near-duplicate of a document the retry
    admitted."""
    from pyspark.sql.readwriter import DataFrameWriter

    from openai_vector_search_demo_spark import stores
    from openai_vector_search_demo_spark.operators.dedup import (
        ingest_batch_against_index, write_band_index)

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 200)
    # unseen documents plus exact copies of stored ones
    batch = (docs.filter(F.col("doc_id").between(200, 259))
             .unionByName(docs.filter(F.col("doc_id") % 10 == 0)
                          .filter(F.col("doc_id") < 200)
                          .withColumn("doc_id",
                                      F.col("doc_id") + 1000000)))
    store, twin = str(tmp_path / "killed"), str(tmp_path / "twin")
    write_band_index(base, store)
    write_band_index(base, twin)
    before = _band_rows(spark, store)

    real = DataFrameWriter.parquet

    def killed_write(self, path, *args, **kwargs):
        if "/_seg-" in str(path):
            raise RuntimeError("killed in the segment write")
        return real(self, path, *args, **kwargs)

    def killed_swap(*args, **kwargs):
        raise RuntimeError("killed before the swap")

    for target, attr, fake, what in (
            (DataFrameWriter, "parquet", killed_write, "segment write"),
            (stores, "swap_manifest", killed_swap, "before the swap")):
        with monkeypatch.context() as mp:
            mp.setattr(target, attr, fake)
            with pytest.raises(RuntimeError, match=what):
                ingest_batch_against_index(spark, batch, store)
        assert _band_rows(spark, store) == before, what
        assert stores.read_manifest(spark, store, stores.SEGMENTS) is None
    # the killed swap left its written segment behind, unnamed
    assert any(p.name.startswith("_seg-")
               for p in (tmp_path / "killed").iterdir())

    def found(out):
        return sorted(map(tuple, out.collect()))

    retried = found(ingest_batch_against_index(spark, batch, store))
    assert retried == found(ingest_batch_against_index(spark, batch, twin))
    assert _band_rows(spark, store) == _band_rows(spark, twin)
    assert _band_rows(spark, store) != before
    named = {seg["name"] for seg in
             stores.read_manifest(spark, store, stores.SEGMENTS)
             ["segments"]}
    assert {p.name for p in (tmp_path / "killed").iterdir()
            if p.name.startswith("_seg-")} == named

    rejected = {new_id for new_id, _, _ in retried}
    admitted = min(set(range(200, 260)) - rejected)
    near = (docs.filter(F.col("doc_id") == admitted)
            .select((F.col("doc_id") + 3000000).alias("doc_id"),
                    F.concat("text", F.lit(" and one more line"))
                    .alias("text")))
    later = found(ingest_batch_against_index(spark, near, store))
    assert (admitted + 3000000, admitted) in [(n, e) for n, e, _ in later]


def _words(seed: int, n: int = 120) -> str:
    import random
    rnd = random.Random(seed)
    return " ".join(f"w{rnd.randrange(3000)}" for _ in range(n))


def test_pair_colliding_in_every_band_is_reported_once(spark, tmp_path):
    """An exact copy shares all four band keys with its stored original,
    so it meets it in four probe rows; admission and the stored cross
    form both report the pair once, and the copy does not join the
    store."""
    from openai_vector_search_demo_spark.operators.dedup import (
        _read_band_store,
        ingest_batch_against_index,
        minhash_lsh_cross_stored,
        write_band_index,
    )

    store = str(tmp_path / "band")
    write_band_index(spark.createDataFrame(
        [(1, _words(1)), (2, _words(2))], "doc_id long, text string"),
        store)
    batch = spark.createDataFrame([(10, _words(1)), (11, _words(3))],
                                  "doc_id long, text string")
    keys = {r.id_e: r.buckets
            for r in _read_band_store(spark, store, "bigint").collect()}
    assert len(keys[1]) == 4
    want = [(10, 1, 1.0)]
    assert sorted(map(tuple, minhash_lsh_cross_stored(
        spark, batch, store, cache=False).collect())) == want
    assert sorted(map(tuple, ingest_batch_against_index(
        spark, batch, store).collect())) == want
    grown = {r.id_e: r.buckets
             for r in _read_band_store(spark, store, "bigint").collect()}
    assert sorted(grown) == [1, 2, 11]
    assert grown[11] != keys[1]


def test_repeated_batch_id_is_verified_row_by_row(spark, tmp_path):
    """A batch that repeats a doc id: each of its rows is verified with
    its own shingle set, so the id reports one match per matching row
    (here the same stored document at two Jaccard values), and no row
    of the matched id joins the store; an id whose rows all miss is
    admitted row by row."""
    from openai_vector_search_demo_spark.operators.dedup import (
        _read_band_store,
        ingest_batch_against_index,
        write_band_index,
    )

    store = str(tmp_path / "band")
    original = _words(1)
    write_band_index(spark.createDataFrame(
        [(1, original)], "doc_id long, text string"), store)
    batch = spark.createDataFrame(
        [(7, original), (7, original + " w9991 w9992 w9993"),
         (8, _words(4)), (8, _words(5))],
        "doc_id long, text string")
    got = sorted(map(tuple, ingest_batch_against_index(
        spark, batch, store).collect()))
    assert [(n, e) for n, e, _ in got] == [(7, 1), (7, 1)]
    assert got[1][2] == 1.0 and 0.5 <= got[0][2] < 1.0
    stored = sorted(r.id_e for r in
                    _read_band_store(spark, store, "bigint").collect())
    assert stored == [1, 8, 8]


def _round_caches(spark) -> int:
    """Persisted RDDs other than local checkpoints (an admission round
    returns its matches as one; the caller owns it)."""
    return sum(1 for r in spark.sparkContext._jsc.getPersistentRDDs()
               .values() if not r.rdd().isLocallyCheckpointed())


def test_admission_rounds_release_their_caches(spark, tmp_path):
    """Outside any cache_scope() (a plain ingest loop, the streaming
    near-dup gate), each ingest_batch_against_index round releases the
    shingled batch and the admitted frame it cached once its appends are
    done: four rounds leave the persisted-RDD count where it was."""
    from openai_vector_search_demo_spark.operators.dedup import (
        ingest_batch_against_index, write_band_index)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    store = str(tmp_path / "rounds_store")
    write_band_index(docs.filter(F.col("doc_id") < 200), store)
    before = _round_caches(spark)
    for r in range(4):
        # re-arrivals of stored docs (matches) plus unseen ones (admitted)
        fresh = F.col("doc_id").between(200 + 50 * r, 249 + 50 * r)
        batch = (docs.filter((F.col("doc_id") % 4 == r) | fresh)
                 .withColumn("doc_id", F.col("doc_id") + 1000000 * (r + 1)))
        assert ingest_batch_against_index(spark, batch, store).count() > 0
        assert _round_caches(spark) == before, f"round {r} leaked caches"
