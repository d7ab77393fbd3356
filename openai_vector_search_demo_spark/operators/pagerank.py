"""Weighted PageRank with a fixed iteration count — link-authority
scoring as a deterministic, oracle-checkable DataFrame loop.

Why this lives in a training-data engine: web-scale curation pipelines
weight documents by SOURCE AUTHORITY — harmonic/PageRank centrality
over the hyperlink graph is the classic crawl-prioritization and
quality-weighting signal (the CommonCrawl lineage: rank hosts, crawl
and keep the authoritative tail first).  The fixture has no hyperlink
table, so the registered query derives a deterministic co-purchase
graph from ``lineitem`` (the ``market_basket_pairs`` bounded self-join)
and ranks parts — the OPERATOR is graph-agnostic: any weighted directed
edge relation works.

Spark-first shape (the second instance of the engine's deterministic
iterative-algorithm pattern, after ``operators.kmeans``):

- The (possibly expensive) edge relation is normalized and persisted
  ONCE (``scoped_persist`` — releasable under ``cache_scope``); node
  set, out-weight totals, and transition probabilities all read the
  cached relation instead of re-deriving it (pre-r11 the registered
  query's self-join edge derivation appeared 3× in the uncached plan;
  the paired A/B at sf1 puts the persist-once form ~18% ahead, SCALE.md
  r11).  Two levers were MEASURED AND DECLINED (BASELINE.md "r11
  notes", pagerank persist-once A/B): explicitly repartitioning edges and
  nodes on the join key (loses at sf0.1, a wash at sf1 — the iteration
  join's own exchange already co-locates, so the extra shuffle never
  pays), and broadcasting the rank vector into the edge join (wins ~10%
  at sf0.1 but loses 1.6× at sf1, where serialized per-iteration
  broadcast jobs beat pipelined shuffle stages only below ~1M edges).
- Each iteration is one join (ranks ⋈ edges on src) + one aggregation
  keyed by dst + a left join back to the node set so nodes without
  in-edges keep their teleport mass.  Nothing driver-side but the node
  COUNT (one scalar).
- **Determinism contract** (same discipline as kmeans): fixed ``iters``,
  no RNG, and ranks are rounded to ``round_dp`` IN-ENGINE each
  iteration (``F.round`` = HALF_UP = DuckDB ``ROUND``), so cross-engine
  float drift in the per-dst sums is clipped every round instead of
  compounding — what makes an unrolled-CTE DuckDB oracle replay the
  whole loop bit-for-bit.

Dangling (sink) nodes: ``dangling='none'`` (default) reproduces the
classic "leaky" formulation — correct when every node has out-edges
(the registered co-purchase graph is bidirectional, so nothing leaks).
``dangling='redistribute'`` adds the standard dangling-mass term
``Σ_{sink} pr / n`` to every node each round, conserving ``Σ pr = 1``
on general directed graphs; the per-round dangling sum is rounded
in-engine, then collected as ONE driver scalar per round that re-enters
the plan as a literal (the kmeans bounded-collect pattern — an in-plan
broadcast total would embed the rank chain twice per round, 2^iters
logical-plan growth), so the oracle replays it exactly.

At 100 TB: the edge relation shuffles once at persist time and the
per-iteration join is exchange-free on the edge side; per-iteration
state is one row per node.  Lineage: each round appends 2-3 joins to
the ``ranks`` plan — fine at ``iters=3``; for ``iters=20+`` pass
``checkpoint_every=N`` to ``localCheckpoint`` the rank vector every N
rounds and keep analysis/optimization time constant (the checkpointed
vector is one row per node — tiny — but blocks live until session end,
so long-lived drivers should run under their own lifecycle policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank"]


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             weight: str = "w", iters: int = 3, damping: float = 0.85,
             round_dp: int = 9, dangling: str = "none",
             checkpoint_every: int | None = None) -> DataFrame:
    """Rank nodes of a weighted directed edge relation; returns
    ``(node, pr)``.  Fixed ``iters`` power rounds from the uniform
    vector.  ``dangling='redistribute'`` conserves total mass on graphs
    with sinks; the default ``'none'`` keeps the historical leaky
    semantics (exact on sink-free graphs)."""
    from openai_vector_search_demo_spark.caching import scoped_persist

    if dangling not in ("none", "redistribute"):
        raise ValueError(f"pagerank: unknown dangling mode {dangling!r}")
    ein = scoped_persist(
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"),
                     F.col(weight).alias("_w")))
    nodes = ein.select(F.col("_src").alias("node")).union(
        ein.select(F.col("_dst").alias("node"))).distinct()
    if dangling == "redistribute":
        # The sink flag is carried as a column ON the node set (and so
        # on every rank vector) rather than kept as a separate sink-node
        # relation: the per-round dangling sum then needs no semi-join —
        # just a conditional aggregate over the cached ranks.  Paired
        # same-session A/B (BASELINE.md "r12 notes: dangling-PageRank
        # semi-join fold A/B"): a
        # wash at sf0.1 (+0.15 s on 4.1), −11% at sf1 (7.26 → 6.44 s),
        # where the dropped per-round join/broadcast stages matter.
        srcs = ein.select(F.col("_src").alias("node")).distinct()
        nodes = (nodes
                 .join(srcs.withColumn("_has_out", F.lit(True)),
                       "node", "left")
                 .select("node",
                         F.coalesce(F.col("_has_out"), F.lit(False))
                         .alias("_out")))
    nodes = scoped_persist(nodes)
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: empty edge relation")
    outw = ein.groupBy("_src").agg(F.sum("_w").alias("_tw"))
    e = scoped_persist(
        ein.join(outw, "_src")
        .select("_src", "_dst", (F.col("_w") / F.col("_tw")).alias("_p")))
    tele = (1.0 - damping) / n
    carry = ["node"] if dangling == "none" else ["node", "_out"]
    ranks = nodes.select(*carry,
                         F.round(F.lit(1.0) / F.lit(n), round_dp)
                         .alias("pr"))
    for i in range(iters):
        if dangling == "redistribute":
            # Dangling mass: the per-round sink-rank sum is rounded
            # IN-ENGINE (determinism contract) and collected as ONE
            # driver scalar that re-enters the plan as a literal.  An
            # in-plan `crossJoin(broadcast(dm))` was rejected: contrib
            # and dm would EACH embed the previous rank chain, doubling
            # the logical plan every round (2^iters growth).  To avoid
            # recomputing the chain for the scalar, ranks is persisted
            # for the round (one row per node — bounded).
            ranks = scoped_persist(ranks)
            dm = (ranks.agg(
                F.round(F.coalesce(
                    F.sum(F.when(~F.col("_out"), F.col("pr"))),
                    F.lit(0.0)), round_dp)).first()[0])
        contrib = (e.join(ranks, e["_src"] == ranks["node"])
                   .groupBy("_dst")
                   .agg(F.sum(F.col("pr") * F.col("_p")).alias("_s"))
                   .withColumnRenamed("_dst", "node"))
        if dangling == "none":
            new_pr = F.round(
                F.lit(tele)
                + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0)),
                round_dp)
        else:
            new_pr = F.round(
                F.lit(tele)
                + F.lit(damping)
                * (F.coalesce(F.col("_s"), F.lit(0.0))
                   + F.lit(float(dm)) / F.lit(n)),
                round_dp)
        ranks = (nodes.join(contrib, "node", "left")
                 .select(*carry, new_pr.alias("pr")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "pr")
