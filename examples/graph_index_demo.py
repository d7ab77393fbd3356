#!/usr/bin/env python
"""Graph-ANN lifecycle demo — the NSW tier end to end.

Walks the serving index through its whole production lifecycle and
prints what each stage did:

1. dedup-first (the measured pipeline-order requirement: duplicate
   multiplicity > M shatters the graph),
2. sharded build with boundary replication (per-task work bounded by
   |cell|² — the 100 TB build path),
3. store write (src-bucketed, both directions) + serve a query with the
   v2 semantic (coarse entry, symmetric traversal, ⌈√n⌉ autoscale),
4. insert a late batch WITHOUT a rebuild (merge-on-read exact upsert),
5. soft-delete the top hit (tombstone ghost) and re-serve,
6. filtered serving (predicate applies to results, ghosts carry the
   beam).

Run:  python examples/graph_index_demo.py [sf_dir]
Defaults to /root/testdata/sf0.001.
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from openai_vector_search_demo_spark.ann_pretrained import (  # noqa: E402
    IVF_TRAINED_CENTROIDS,
)
from openai_vector_search_demo_spark.operators.nsw import (  # noqa: E402
    build_knn_graph_sharded,
    delete_from_nsw_index,
    nsw_serving_params,
    nsw_stored_knn,
    upsert_nsw_index,
    write_nsw_index,
)
from openai_vector_search_demo_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("graph-index-demo", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).first().embedding
    base = emb.filter(F.col("vec_id") != 0)

    # 1. dedup-first: exact-duplicate collapse before any graph build
    survivors = base.join(
        base.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
        .select("vec_id"), "vec_id")
    n = survivors.count()
    print(f"[1] dedup-first: {base.count()} -> {n} vectors "
          "(replica groups collapse; multiplicity > M would shatter "
          "the graph)")

    # 2. sharded build: per-task work bounded by |cell|^2
    edges = build_knn_graph_sharded(survivors, IVF_TRAINED_CENTROIDS,
                                    n_cells=4, n_assign=2)
    print(f"[2] sharded build (4 super-cells, top-2 assignment): "
          f"{edges.count()} directed edges")

    with tempfile.TemporaryDirectory() as tmp:
        store = f"{tmp}/nsw"
        # the demo writes the global-build store (the slot-shaped path);
        # a production job writes the sharded edges the same way
        corpus = survivors.filter(F.col("vec_id") % 7 != 3)
        write_nsw_index(corpus, store)

        def serve(tag, source, **kw):
            # recompute the autoscale from THIS corpus: the stored L1
            # layer is keyed to the write-time stride, and serving with
            # a matching stride is what turns on the hierarchical entry
            # (a mismatch degrades gracefully to the flat coarse scan)
            stride, ef, rounds = nsw_serving_params(
                source.filter(F.col("embedding").isNotNull()).count())
            top = nsw_stored_knn(spark, store, source, qvec, k=5,
                                 ef=ef, rounds=rounds, stride=stride,
                                 **kw).collect()
            print(f"{tag}: " + ", ".join(
                f"{r.vec_id}@{r.similarity:.4f}" for r in top))
            return top

        # 3. serve off the stored graph
        top = serve("[3] stored serve (coarse entry + symmetric beam)",
                    corpus)

        # 4. insert the held-out batch without a rebuild
        batch = survivors.filter(F.col("vec_id") % 7 == 3)
        upsert_nsw_index(spark, store, batch, corpus)
        print(f"[4] upserted {batch.count()} vectors (merge-on-read "
              "exact; no rebuild)")
        top = serve("    post-upsert serve", survivors)

        # 5. soft-delete the current best hit; ghosts keep the graph
        #    connected but can never be returned
        best = top[0].vec_id
        delete_from_nsw_index(spark, store, [best])
        print(f"[5] tombstoned the top hit ({best})")
        serve("    post-delete serve", survivors)

        # 6. filtered serving: predicate on RESULTS, ghosts carry beam
        lbl = top[1].label
        allv = nsw_stored_knn(spark, store, survivors, qvec, k=1 << 20,
                              ef=ef, rounds=rounds, stride=stride)
        flt = (allv.filter(F.col("label") == lbl)
               .orderBy(F.col("similarity").desc(), F.col("vec_id"))
               .limit(5).collect())
        print(f"[6] filtered serve (label={lbl}): " + ", ".join(
            f"{r.vec_id}@{r.similarity:.4f}" for r in flt))

    spark.stop()


if __name__ == "__main__":
    main()
