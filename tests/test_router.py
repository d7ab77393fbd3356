"""ANN tier router (`operators.knn.auto_knn`) — routing rule + both
branches against the direct operators (SURVEY.md §5.3 conventions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openai_vector_search_demo_spark.operators.knn import (
    auto_knn,
    auto_knn_exact_max,
    knn,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def base(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    return emb.filter(F.col("vec_id") != 0).cache()


@pytest.fixture(scope="module")
def qvec(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    return emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]


def test_threshold_is_the_beam_budget_and_matches_the_oracle_mirror():
    from openai_vector_search_demo_spark.operators.nsw import (
        NSW_EF_SERVE,
        NSW_M,
        NSW_ROUNDS,
    )
    from openai_vector_search_demo_spark.queries.graph_ann import (
        _AUTO_EXACT_MAX,
    )
    assert auto_knn_exact_max() == NSW_ROUNDS * NSW_EF_SERVE * 2 * NSW_M
    assert _AUTO_EXACT_MAX == auto_knn_exact_max()


def test_auto_routes_exact_below_budget_and_equals_direct_knn(spark, base,
                                                              qvec):
    n = base.filter(F.col("embedding").isNotNull()).count()
    assert n <= auto_knn_exact_max()  # every test sf is below the budget
    tier, top = auto_knn(base, qvec, k=10, n=n)
    assert tier == "exact"
    got = [(r["vec_id"], r["similarity"])
           for r in top.select("vec_id", "similarity").collect()]
    # the router's contract: round BEFORE the top-k ordering, id ties
    full = knn(base, qvec, k=n, sim_col="s", tie_break="vec_id") \
        .select("vec_id", F.round("s", 6).alias("s")).collect()
    exp = sorted(((r["vec_id"], r["s"]) for r in full),
                 key=lambda t: (-t[1], t[0]))[:10]
    assert got == exp


def test_forced_graph_branch_equals_direct_nsw_knn(spark, base, qvec):
    from openai_vector_search_demo_spark.operators.nsw import (
        nsw_knn,
        nsw_serving_params,
    )
    n = base.filter(F.col("embedding").isNotNull()).count()
    stride, ef, rounds = nsw_serving_params(n)
    kw = dict(ef=ef, rounds=rounds, stride=stride)
    tier, top = auto_knn(base, qvec, k=10, n=n, exact_max=0, nsw_kwargs=kw)
    assert tier == "graph"
    got = [(r["vec_id"], r["similarity"])
           for r in top.select("vec_id", "similarity").collect()]
    exp = [(r["vec_id"], r["similarity"])
           for r in nsw_knn(base, qvec, k=10, sim_col="similarity", **kw)
           .select("vec_id", "similarity").collect()]
    assert got == exp and len(got) == 10


def test_auto_counts_corpus_itself_when_n_not_passed(spark, base, qvec):
    tier, top = auto_knn(base, qvec, k=3)
    assert tier == "exact"
    assert len(top.collect()) == 3


def test_stored_graph_branch_equals_direct_stored_serve(spark, base, qvec,
                                                        tmp_path):
    from openai_vector_search_demo_spark.operators.nsw import (
        nsw_serving_params,
        nsw_stored_knn,
        write_nsw_index,
    )
    n = base.filter(F.col("embedding").isNotNull()).count()
    stride, ef, rounds = nsw_serving_params(n)
    store = str(tmp_path / "router_store")
    write_nsw_index(base, store, m=4)
    kw = dict(m=4, ef=ef, rounds=rounds, stride=stride)
    tier, top = auto_knn(base, qvec, k=10, n=n, exact_max=0,
                         store_path=store, nsw_kwargs=kw)
    assert tier == "graph"
    got = [(r["vec_id"], r["similarity"])
           for r in top.select("vec_id", "similarity").collect()]
    exp = [(r["vec_id"], r["similarity"])
           for r in nsw_stored_knn(spark, store, base, qvec, k=10,
                                   sim_col="similarity", **kw)
           .select("vec_id", "similarity").collect()]
    assert got == exp and len(got) == 10


def test_unlabeled_corpus_serves_on_both_sides_of_the_threshold(spark):
    """A corpus with no 'label' column must serve identically-shaped
    results from BOTH tiers — crossing the routing threshold cannot be
    the day an unlabeled corpus starts crashing (code-review r15)."""
    import numpy as np
    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(4)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qvec = rows[0][1]
    tier, top = auto_knn(df, qvec, k=5, n=30)
    assert tier == "exact" and top.columns == ["vec_id", "similarity"]
    tier2, top2 = auto_knn(df, qvec, k=5, n=30, exact_max=0,
                           nsw_kwargs=dict(m=3, ef=8, rounds=3, stride=6))
    assert tier2 == "graph" and top2.columns == ["vec_id", "similarity"]
    assert len(top2.collect()) == 5
