"""Unit/property tests for the scalar surface (SURVEY.md §5.3)."""

from __future__ import annotations

import hashlib

from pyspark.sql import Row
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.functions.hashing import record_key
from openai_vector_search_demo_spark.functions.text import (
    cleanse_text,
    highlight_keywords,
    keyword_list,
)
from openai_vector_search_demo_spark.functions.vectors import (
    cosine_similarity,
    id_in,
    vector_lit,
)


def one(spark, expr, **cols):
    df = spark.createDataFrame([Row(**cols)]) if cols else spark.range(1)
    return df.select(expr.alias("v")).first()["v"]


def ref_cleanse(s: str) -> str:
    return s.replace("\n", " ").replace("  ", " ")


def test_cleanse_matches_python_single_pass(spark):
    cases = ["a\nb", "a   b", "a  b  c", "", "x\n\ny", " \n ", "a    b"]
    for s in cases:
        assert one(spark, cleanse_text(F.lit(s))) == ref_cleanse(s), repr(s)


def test_sha1_record_key_matches_hashlib(spark):
    got = one(spark, record_key(F.lit("/docs/a.pdf"), F.lit(3)))
    assert got == hashlib.sha1("/docs/a.pdf_3".encode()).hexdigest()


def ref_keywords(text: str) -> list[str]:
    for ch in ".-=?!":
        text = text.replace(ch, " ")
    stop = ['?', 'a', 'an', 'and', 'or', 'do', 'of', 'if', 'not', 'for', 'are',
            'was', 'were', 'is', 'can', 'have', 'has', 'there', 'their', 'the',
            'how', 'why', 'when', 'what', "what's", 'in', 'to', 'i', 'we', 'you']
    return [w.lower() for w in text.split() if w.lower() not in stop]


def test_keyword_list_matches_reference_semantics(spark):
    cases = [
        "How does the fast hash-join work? SPARK table!",
        "a an and the THE The",
        "x.y-z=q?w!e",
        "  leading and trailing  ",
        "dup dup DUP the dup",
    ]
    for s in cases:
        assert one(spark, keyword_list(F.lit(s))) == ref_keywords(s), repr(s)


def ref_highlight(kws, text):
    pre = '<span style="background-color: #ffff99">'
    return " ".join(f"{pre}{t}</span>" if t.lower() in kws else t
                    for t in text.split(" "))


def test_highlight_matches_reference(spark):
    q = "fast hash join"
    kws = ref_keywords(q)
    text = "the FAST hash  join is fast"
    got = one(spark, highlight_keywords(keyword_list(F.lit(q)), F.lit(text)))
    assert got == ref_highlight(kws, text)


def test_cosine_self_is_one(spark):
    v = [1.0, 2.0, -3.0, 0.5]
    got = one(spark, cosine_similarity(vector_lit(v), vector_lit(v)))
    assert abs(got - 1.0) < 1e-12


def test_cosine_orthogonal_is_zero(spark):
    got = one(spark, cosine_similarity(vector_lit([1.0, 0.0]), vector_lit([0.0, 2.0])))
    assert abs(got) < 1e-12


# ---------------------------------------------------------------------------
# id_in — the graph tier's point-read predicate
# ---------------------------------------------------------------------------

_WIDE = [-7, -1, 0, 5, 2**31 - 1, 2**31, 2**31 + 5, 2**40, -(2**35)]


def _wide_ids(spark):
    return spark.createDataFrame([(i,) for i in _WIDE], "id long")


def test_id_in_empty_list_selects_nothing(spark):
    df = _wide_ids(spark)
    assert df.filter(id_in("id", [])).count() == 0
    assert df.filter(~id_in("id", [])).count() == len(_WIDE)


def test_id_in_wide_and_negative_ids(spark):
    df = _wide_ids(spark)
    want = [-(2**35), -7, 2**31, 2**40]
    got = sorted(r.id for r in df.filter(id_in("id", want + [3])).collect())
    assert got == want


def test_id_in_same_rows_as_isin(spark):
    df = spark.range(-40, 40).selectExpr("id", "CAST(id % 7 AS INT) AS b")
    for ids in ([3], [1, 2, 9], list(range(-30, 30, 3)), [2**33, -5]):
        for col in ("id", "b"):
            got = sorted(r.id for r in df.filter(id_in(col, ids)).collect())
            ref = sorted(r.id for r in
                         df.filter(F.col(col).isin(ids)).collect())
            assert got == ref, (col, ids)


def test_id_in_keeps_in_pushdown_and_bucket_pruning(spark, tmp_path):
    """Optimized plan keeps the IN (InSet above the conversion threshold)
    and the parquet scan still prunes the bucket partition column."""
    import re

    path = str(tmp_path / "store")
    (spark.range(200).selectExpr("id AS src",
                                 "CAST(id % 8 AS INT) AS bucket")
     .write.partitionBy("bucket").parquet(path))
    store = spark.read.schema("src long, bucket int").parquet(path)
    few, many = [3, 12], list(range(1, 60, 4))
    for ids in (few, many):
        df = store.filter(id_in("bucket", sorted({i % 8 for i in ids}))
                          & id_in("src", ids))
        qe = df._jdf.queryExecution()
        opt = qe.optimizedPlan().toString()
        assert re.search(r"src#\d+L (IN \(|INSET )", opt), opt
        scan = qe.executedPlan().toString()
        assert re.search(r"PartitionFilters: \[[^\]]*bucket#\d+ "
                         r"(IN \(|INSET )", scan), scan
        assert sorted(r.src for r in df.collect()) == ids


# ---------------------------------------------------------------------------
# int8 quantization + consistent hash sampling
# ---------------------------------------------------------------------------

def test_quantize_int8_roundtrip_error_bound(spark):
    """|dequant − x| ≤ scale/2 = max|x|/254 per element, zeros exact."""
    import numpy as np

    from openai_vector_search_demo_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )
    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(32)]) for i in range(50)]
    rows.append((50, [0.0] * 32))                      # zero vector
    df = spark.createDataFrame(rows, ["id", "v"])
    out = df.select("id", "v",
                    dequantize_int8(quantize_int8("v")).alias("dq")).collect()
    for r in out:
        bound = max(abs(x) for x in r.v) / 254.0 + 1e-6
        assert all(abs(a - b) <= bound for a, b in zip(r.v, r.dq))
    zero = [r for r in out if r.id == 50][0]
    assert list(zero.dq) == [0.0] * 32


def test_quantized_knn_recall_at_10(spark):
    """int8 quantization must keep ≥ 8/10 of the true fp32 top-10."""
    from openai_vector_search_demo_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )
    from openai_vector_search_demo_spark.operators.knn import knn
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    base = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id for r in
             knn(base, qvec, k=10, tie_break="vec_id").collect()}
    dq = base.select("vec_id",
                     dequantize_int8(quantize_int8("embedding"))
                     .alias("embedding"))
    quant = {r.vec_id for r in
             knn(dq, qvec, k=10, tie_break="vec_id").collect()}
    assert len(exact & quant) >= 8


def test_hash_sample_deterministic_and_calibrated(spark):
    from openai_vector_search_demo_spark.functions.hashing import (
        hash_sample_predicate,
    )
    df = spark.range(20_000)
    a = df.filter(hash_sample_predicate("id", 0.1)).count()
    b = df.filter(hash_sample_predicate("id", 0.1)).count()
    assert a == b                                       # rerun-identical
    assert 0.08 * 20_000 < a < 0.12 * 20_000            # calibrated ±20%
    c = df.filter(hash_sample_predicate("id", 0.1, seed=7)).count()
    assert 0.08 * 20_000 < c < 0.12 * 20_000            # other seed: same rate


def test_hash_sample_join_consistency(spark):
    """join(sample(A), sample(B)) == sample(join(A, B)) when both sides are
    sampled by the join key — the property rand() sampling lacks."""
    from openai_vector_search_demo_spark.functions.hashing import (
        hash_sample_predicate,
    )
    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    so = o.filter(hash_sample_predicate("o_orderkey", 0.25))
    sl = li.filter(hash_sample_predicate("l_orderkey", 0.25))
    sampled_join = sl.join(so, sl.l_orderkey == so.o_orderkey) \
                     .select("l_orderkey", "l_linenumber")
    join_sampled = (li.join(o, li.l_orderkey == o.o_orderkey)
                    .filter(hash_sample_predicate("l_orderkey", 0.25))
                    .select("l_orderkey", "l_linenumber"))
    assert sorted(map(tuple, sampled_join.collect())) \
        == sorted(map(tuple, join_sampled.collect()))


def test_hash_sample_rejects_bad_fraction():
    import pytest

    from openai_vector_search_demo_spark.functions.hashing import (
        hash_sample_predicate,
    )
    with pytest.raises(ValueError):
        hash_sample_predicate("id", 1.5)


def test_stratified_sample_rates_and_determinism(spark):
    from openai_vector_search_demo_spark.functions.hashing import (
        hash_sample_predicate,
        stratified_sample_predicate,
    )
    import pytest
    from pyspark.sql import functions as F
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("src"))
    pred = stratified_sample_predicate(
        "src", "id", {"s0": 1.0, "s1": 0.5, "s2": 0.0}, default=0.25)
    kept = df.filter(pred).groupBy("src").count().collect()
    by = {r.src: r["count"] for r in kept}
    assert by["s0"] == 1000                  # fraction 1.0 keeps everything
    assert "s2" not in by                    # fraction 0.0 keeps nothing
    assert 400 <= by["s1"] <= 600            # ~half
    assert 150 <= by["s3"] <= 350            # default ~quarter
    # per-stratum rate 1.0/0.5 agree with the flat sampler on the same key
    flat = df.filter(hash_sample_predicate("id", 0.5)) \
             .filter(F.col("src") == "s1").count()
    assert by["s1"] == flat
    # deterministic across evaluations
    assert df.filter(pred).count() == sum(by.values())
    with pytest.raises(ValueError):
        stratified_sample_predicate("src", "id", {"s0": 1.5})


def test_repetition_signals_hand_computed(spark):
    from openai_vector_search_demo_spark.functions.text_analysis import (
        repetition_signals,
    )
    df = spark.createDataFrame(
        [
            (1, "a a a a a"),            # 5 words, 1 distinct; 4×"a a"
            (2, "the cat sat on mat"),   # all distinct words and 2-grams
            (3, "go go go stop go go"),  # 6 words; grams: gg,gg,gs,sg,gg
            (4, "too short"),            # < min_words → dropped
        ],
        "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert set(out) == {1, 2, 3}
    r1 = out[1]
    assert r1.n_words == 5
    assert r1.dup_word_frac == 0.8          # 1 - 1/5
    assert r1.dup_2gram_frac == 0.75        # 4 grams, 1 distinct
    assert r1.top_2gram_frac == 1.0
    r2 = out[2]
    assert r2.dup_word_frac == 0.0
    assert r2.dup_2gram_frac == 0.0
    assert r2.top_2gram_frac == 0.25        # 4 grams, each once
    r3 = out[3]
    assert r3.n_words == 6
    assert r3.dup_word_frac == round(1 - 2 / 6, 6)
    assert r3.dup_2gram_frac == 0.4         # 5 grams, 3 distinct
    assert r3.top_2gram_frac == 0.6         # "go go" ×3


def test_vocab_coverage_curve_hand_computed(spark):
    from openai_vector_search_demo_spark.functions.text_analysis import (
        vocab_coverage,
    )
    # counts: a:4 b:2 c:1 d:1 -> total 8; top-1 covers 4/8, top-2 6/8
    df = spark.createDataFrame([("a a a a b b c d",)], "text string")
    out = {r.vocab_size: r for r in vocab_coverage(df, [1, 2, 10]).collect()}
    assert out[1].covered_tokens == 4 and out[1].oov_rate == 0.5
    assert out[2].covered_tokens == 6 and out[2].oov_rate == 0.25
    assert out[10].n_types == 4 and out[10].oov_rate == 0.0
    # tie-break: c before d at equal counts
    out2 = {r.vocab_size: r for r in vocab_coverage(df, [3]).collect()}
    assert out2[3].covered_tokens == 7
    import pytest as _pytest
    with _pytest.raises(ValueError, match="sizes"):
        vocab_coverage(df, [])


def test_bigram_lm_rewards_predictable_transitions(spark):
    """The bigram LM must separate what the unigram CANNOT: two docs with
    identical token multisets but different orderings.  Doc A repeats the
    same bigram transition; doc B scrambles it; under the unigram both
    score identically, under the bigram A > B."""
    import math

    from openai_vector_search_demo_spark.functions.text_analysis import (
        bigram_lm_scores,
        unigram_lm_scores,
    )
    # same multiset {x:4, y:4} per doc; A alternates (xy xy xy xy),
    # B blocks (xx xx yy yy) — different transition profiles
    df = spark.createDataFrame(
        [(1, "x y x y x y x y"), (2, "x x x x y y y y")],
        "doc_id long, text string")
    uni = {r.doc_id: r.avg_logprob
           for r in unigram_lm_scores(df, cache=False).collect()}
    assert math.isclose(uni[1], uni[2], abs_tol=1e-9)
    big = {r.doc_id: r.avg_logprob
           for r in bigram_lm_scores(df, cache=False).collect()}
    assert big[1] > big[2]  # x→y dominates corpus transitions; A rides it


def test_bigram_lm_single_token_and_empty_docs(spark):
    """One-token docs score by the unigram alone; empty docs emit no row
    (no tokens — the unigram operator's contract too)."""
    from openai_vector_search_demo_spark.functions.text_analysis import (
        bigram_lm_scores,
    )
    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "a b")], "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_lm_scores(df, cache=False).collect()}
    assert set(out) == {1, 3}
    assert out[1].n_tokens == 1
    assert out[3].n_tokens == 2


def test_unigram_reuse_pairs_equivalent(spark):
    """unigram_lm_scores(reuse_pairs=True) derives token counts as the
    prev-marginal of doc_pair_counts — scores must be identical to the
    direct tokenization, so the shared-scan path is a physical choice."""
    from openai_vector_search_demo_spark.functions.text_analysis import (
        unigram_lm_scores,
    )

    rows = [(1, "the cat sat on the mat"), (2, "the dog sat"),
            (3, ""), (4, "one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    direct = {r.doc_id: (r.n_tokens, r.avg_logprob)
              for r in unigram_lm_scores(df, cache=False).collect()}
    via_pairs = {r.doc_id: (r.n_tokens, r.avg_logprob)
                 for r in unigram_lm_scores(df, cache=False,
                                            reuse_pairs=True).collect()}
    assert direct == via_pairs


def test_cache_scope_releases_persists(spark):
    """Persists taken inside cache_scope() are released on exit; outside
    a scope the session-lifetime behavior is unchanged."""
    from openai_vector_search_demo_spark.caching import (
        cache_scope,
        scoped_persist,
    )

    df1 = spark.range(10)
    with cache_scope():
        inner = scoped_persist(spark.range(20))
        inner.count()
        assert inner.storageLevel.useMemory
    assert not inner.storageLevel.useMemory  # released on scope exit

    outer = scoped_persist(df1)
    outer.count()
    try:
        assert outer.storageLevel.useMemory  # no scope: session-lifetime
    finally:
        outer.unpersist()


def test_cache_scope_nesting_releases_own_only(spark):
    from openai_vector_search_demo_spark.caching import (
        cache_scope,
        scoped_persist,
    )

    with cache_scope():
        a = scoped_persist(spark.range(5))
        a.count()
        with cache_scope():
            b = scoped_persist(spark.range(6))
            b.count()
        assert not b.storageLevel.useMemory  # inner scope released b
        assert a.storageLevel.useMemory      # outer scope still holds a
    assert not a.storageLevel.useMemory


def test_cache_scope_is_thread_local(spark):
    """A persist taken on another thread must NOT register into this
    thread's active scope (and so must survive the scope's exit) — the
    concurrent-Spark-actions contract: one thread's cache_scope() exit
    cannot unpersist a relation another thread is mid-action on."""
    import threading

    from openai_vector_search_demo_spark.caching import (
        cache_scope,
        scoped_persist,
    )

    other: list = []

    def worker():
        df = scoped_persist(spark.range(30))
        df.count()
        other.append(df)

    with cache_scope():
        mine = scoped_persist(spark.range(40))
        mine.count()
        th = threading.Thread(target=worker)
        th.start()
        th.join()
    assert not mine.storageLevel.useMemory      # scope released its own
    try:
        assert other[0].storageLevel.useMemory  # foreign persist survives
    finally:
        other[0].unpersist()


def test_unigram_reuse_pairs_hits_bigram_cache(spark):
    """The sharing claim, receipted: after bigram_lm_scores materializes
    its persisted pair counts, unigram_lm_scores(reuse_pairs=True) must
    plan an InMemoryTableScan over that same relation (Spark's
    plan-matching cache) instead of re-tokenizing the corpus."""
    import contextlib
    import io

    from openai_vector_search_demo_spark.functions.text_analysis import (
        bigram_lm_scores,
        unigram_lm_scores,
    )

    rows = [(1, "the cat sat on the mat"), (2, "the dog sat")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        bigram_lm_scores(df).collect()          # populates the pair cache
        uni = unigram_lm_scores(df, reuse_pairs=True)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            uni.explain("formatted")
        assert "InMemoryTableScan" in buf.getvalue()
        direct = {r.doc_id: (r.n_tokens, r.avg_logprob)
                  for r in unigram_lm_scores(df, cache=False).collect()}
        shared = {r.doc_id: (r.n_tokens, r.avg_logprob)
                  for r in uni.collect()}
        assert direct == shared
    finally:
        spark.catalog.clearCache()


def test_doc_term_counts_equals_groupby_form(spark):
    """The in-row run-length TF (zero shuffle) must be value-identical
    to explode -> groupBy(doc, token) -> count, including tf dtype and
    zero-token docs emitting nothing."""
    from pyspark.sql import functions as F

    from openai_vector_search_demo_spark.functions.text_analysis import (
        doc_term_counts,
        tokens,
    )

    rows = [(1, "the cat the cat the"), (2, "solo"), (3, "   "), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.token): r.tf
           for r in doc_term_counts(df).collect()}
    ref = {(r.doc_id, r.token): r.tf
           for r in (df.select("doc_id",
                               F.explode(tokens("text")).alias("token"))
                     .groupBy("doc_id", "token").count()
                     .withColumnRenamed("count", "tf").collect())}
    assert got == ref == {(1, "the"): 3, (1, "cat"): 2, (2, "solo"): 1}
    out = doc_term_counts(df, with_dl=True)
    assert dict(out.dtypes)["tf"] == "bigint"
    assert dict(out.dtypes)["dl"] == "int"
    assert {(r.doc_id, r.dl) for r in out.collect()} == {(1, 5), (2, 1)}
