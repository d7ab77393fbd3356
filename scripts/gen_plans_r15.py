#!/usr/bin/env python
"""Emit plans/r15/<name>_<tag>.txt explain('formatted') evidence files.

For plan-shaped queries the file is the registered query's own plan.
For driver-loop serving operators (NSW beams, MMR) the returned frame is
a LocalRelation, so the evidence is the PER-ROUND fragment plan the loop
executes — emitted here by building the same fragment the operator runs.

Usage: python scripts/gen_plans_r15.py <tag> [names...]
Fragments: nsw_round_fresh, nsw_round_delta, mmr_round
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

FRAGMENTS = {"nsw_round_fresh", "nsw_round_delta", "mmr_round"}


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from openai_vector_search_demo_spark.session import get_spark
    spark = get_spark("plans-r15")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m
    from pyspark.sql import functions as F
    reg = m.queries()
    os.makedirs("plans/r15", exist_ok=True)

    for name in names:
        if name in FRAGMENTS:
            txt = fragment(spark, sf_dir, name, F)
        else:
            txt = explain_str(reg[name](spark, sf_dir))
        path = f"plans/r15/{name}_{tag}.txt"
        with open(path, "w") as fh:
            fh.write(txt)
        print("wrote", path)


def fragment(spark, sf_dir, which, F):
    """The per-round plan the driver loop executes, as the CURRENT code
    would build it (run under the old tree for _before, new for _after)."""
    from openai_vector_search_demo_spark.functions.vectors import (
        cosine_similarity, vector_lit)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    source = emb.filter(F.col("vec_id") != 0)
    q = vector_lit(qvec)
    ids = list(range(1, 161))

    if which == "mmr_round":
        # the plan(s) one MMR selection evaluates
        from openai_vector_search_demo_spark.operators import mmr as mmr_mod
        import inspect
        src = inspect.getsource(mmr_mod.mmr_select)
        cand = source.limit(20).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("v"),
            F.lit(0.5).alias("rel"))
        if "crossJoin(sel)" in src:  # old shape: round-2 plan
            sel = cand.limit(1).select(F.col("id").alias("sid"),
                                       F.col("v").alias("sv"))
            rem = cand.join(sel.select("sid"),
                            F.col("id") == F.col("sid"), "left_anti")
            scored = (rem.crossJoin(sel)
                      .withColumn("s", cosine_similarity("v", "sv"))
                      .groupBy("id")
                      .agg(F.first("v").alias("v"),
                           F.first("rel").alias("rel"),
                           F.max("s").alias("ms"))
                      .withColumn("mmr", F.lit(0.5) * F.col("rel")
                                  - F.lit(0.5) * F.col("ms")))
            df = (scored.orderBy(F.col("mmr").desc(), F.col("id").asc())
                  .limit(1).select("id", "v", "rel"))
            head = ("OLD mmr_select round-2 plan (one of k-1 such rounds,"
                    " each + eager localCheckpoint):\n")
        else:  # new shape: the single pairwise job
            a = cand.select(F.col("id").alias("ia"), F.col("v").alias("va"))
            b = cand.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
            df = (a.crossJoin(b).filter(F.col("ia") != F.col("ib"))
                  .select("ia", "ib",
                          cosine_similarity("va", "vb").alias("s")))
            head = ("NEW mmr_select: ONE pairwise-sim job (greedy argmax"
                    " runs driver-side over its collected output):\n")
        return head + explain_str(df)

    # NSW round fragments serve the real store (the slots' cached one)
    from openai_vector_search_demo_spark.stores import store_path
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    if which == "nsw_round_fresh":
        store = store_path("nsw", 4, [emb_path], m=16)
        edges = spark.read.parquet(store)
        buckets = sorted({i % 16 for i in ids})
        cand = (edges.filter(F.col("bucket").isin(buckets)
                             & F.col("src").isin(ids))
                .select(F.col("dst").alias("vec_id")))
        df = (source.join(F.broadcast(cand), "vec_id")
              .withColumn("_s", F.round(
                  cosine_similarity(F.col("embedding"), q), 6))
              .select("vec_id", "label", "_s"))
        return ("NSW base-beam round, FRESH store (one action/round, both"
                " trees):\n" + explain_str(df))

    # delta-store lookup fragment: shape differs across trees
    store = store_path("nswup", 4, [emb_path], m=16)
    edges = spark.read.parquet(store)
    buckets = sorted({i % 16 for i in ids})
    from openai_vector_search_demo_spark.operators import nsw as nsw_mod
    import inspect
    src = inspect.getsource(nsw_mod.nsw_stored_knn)
    if "dense_rank" in src:  # old tree
        from pyspark.sql import Window
        wm = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                               F.col("dst").asc())
        fwd = (edges.filter(F.col("bucket").isin(buckets)
                            & F.col("src").isin(ids) & F.col("fwd"))
               .withColumn("_rn", F.dense_rank().over(wm))
               .filter(F.col("_rn") <= 16).select("src", "dst"))
        mirrors = (edges.filter(F.col("bucket").isin(buckets)
                                & F.col("src").isin(ids) & ~F.col("fwd"))
                   .select("src", "dst"))
        xs = ids  # representative
        valid = (edges.filter(F.col("bucket").isin(buckets)
                              & F.col("src").isin(xs) & F.col("fwd"))
                 .withColumn("_rn", F.dense_rank().over(wm))
                 .filter(F.col("_rn") <= 16)
                 .select(F.col("dst").alias("src"),
                         F.col("src").alias("dst")))
        cand = fwd.unionByName(mirrors.join(valid, ["src", "dst"],
                                            "left_semi"))
        df = (source.join(F.broadcast(cand.select(
                  F.col("dst").alias("vec_id"))), "vec_id")
              .withColumn("_s", F.round(
                  cosine_similarity(F.col("embedding"), q), 6))
              .select("vec_id", "label", "_s"))
        return ("OLD NSW delta-store round: per-round merge-on-read"
                " WINDOW (dense_rank shuffle) x2 + mirror broadcast"
                " semi-join feeding the probe, plus one extra mirror-dst"
                " collect per round (not shown):\n" + explain_str(df))
    df = (edges.filter(F.col("bucket").isin(buckets)
                       & F.col("src").isin(ids))
          .select("src", "dst", "sim", "fwd"))
    part2 = (source.filter(F.col("vec_id").isin(ids))
             .withColumn("_s", F.round(
                 cosine_similarity(F.col("embedding"), q), 6))
             .select("vec_id", "label", "_s"))
    return ("NEW NSW delta-store round, job 1: ONE pruned point read of"
            " fwd+mirror rows (top-m resolution + mirror validation are"
            " driver-side selections over the stored 6-dp sims):\n"
            + explain_str(df)
            + "\n\nNEW round, job 2: newcomer scoring via IN-filter"
            " pushed to the scan (no broadcast exchange, no join):\n"
            + explain_str(part2))


if __name__ == "__main__":
    main()
