"""Graph ANN: NSW-style kNN-graph build + deterministic beam search.

The reference's actual index is HNSW (modules/utilities.py:272-278 —
Redis `HNSW` vector index); this module is the closest Spark-native
analogue in the engine's ANN ladder: a stored NEIGHBOR GRAPH (top-M
cosine neighbors per vector — the single-layer Navigable-Small-World
form, Malkov et al. 2014, public method description only) searched by
multi-seed best-first BEAM expansion, exactly the serving pattern HNSW
uses below its hierarchy.  Unlike the hash/quantizer tiers (LSH, IVF,
PQ, SQ8, binary), candidates come from GRAPH LOCALITY: each round
expands the current frontier's adjacency lists and keeps the best
``ef`` newcomers, so the scan cost is rounds·ef·M score evaluations —
independent of corpus size — instead of any corpus-wide pass.

Build (offline, one-time — the standard graph-index trade):
``build_knn_graph`` computes the EXACT top-M neighbor list per vector
with the semdedup salt-split block pattern (``operators/semdedup.py``):
rows hash into S = ⌈n/max_block_rows⌉ shards, every unordered shard
pair meets in its own BLAS task (per-task memory bounded by
max_block_rows²), each task emits its LEFT rows' per-block top-M, and a
global per-src window reduces the ≤ S·M candidates per row to the final
top-M — exact, because the true top-M is a subset of the union of
per-block top-Ms.  At 100 TB the same build runs per IVF cell first
(cell-bounds the quadratic, the semdedup posture); the graph THIS
module stores and serves is format-identical either way.

Search: two beam engines — ``beam_search_knn`` serves one query with
at most one fused driver-side action per round, ``beam_search_knn_batch``
serves many through a qid-keyed relational frontier — share ONE entry
form and ONE stop rule.  Entry is ``flat_mod`` plus an L1 → Ld
``hier_levels`` list (possibly empty), or explicit ``seeds``.  The
geometry is decided only by ``nsw_hier_plan`` (level ℓ is the subset
``id % (s1·…·sℓ) == 0`` with s_{ℓ+1} = ⌈√n_ℓ⌉) and ``_level_plan``
(every level with ≥ ``NSW_HIER_FLOOR`` nodes gets its own graph; the
first smaller one is the flat top, ``flat_mod`` its stride product).
A query scores the flat top exactly, then DESCENDS: per level,
``NSW_L1_ROUNDS`` beam rounds at constant width ``NSW_HIER_W``,
re-seeded from the running pool's top; the base beam starts from the
pool's top-``NSW_ENTRY_COUNT`` (every level-visited node stays a
candidate).  The deepest level holds < ``NSW_HIER_FLOOR``² nodes at
any n, so the single-query engine reads it whole in its entry action —
scores, adjacency, and the next layer's adjacency of its nodes — and
runs that level's descent with no further action.  A stored base of
at most ef·2M nodes — no more than one base round may score — is read
whole instead: the entry action collects every source score and every
layer's adjacency, and no round after it runs an action.  With no
levels the flat top is the first stride layer itself — a flat coarse
entry.  This
is the reference's HNSW multi-layer structure
(modules/utilities.py:272-278): entry work is
depth·{NSW_L1_ROUNDS}·{NSW_HIER_W}·2M evaluations with depth =
Θ(log log n) — flat in n for any real corpus.  Each of T base rounds
expands the frontier's adjacency SYMMETRICALLY (out-edges ∪ reversed
in-edges — the reverse-link practice; hubs become entryways, not
one-way sinks), scores the unvisited newcomers by exact cosine
against the query, keeps the top-ef as the next frontier (ef =
{NSW_EF_SERVE} CONSTANT: per-query work is BOUNDED by rounds·ef·2M
evaluations independent of corpus size), and accumulates every scored
node; ``nsw_converged`` (the ``NSW_STOP_K`` rule) ends the beam early.
The answer is the top-k of all visited nodes — the refine is built
in: scores are exact cosines throughout, the graph only decides WHICH
nodes get scored.  Recall is measured, never assumed — with M = 16
(the degree that keeps an exact-kNN graph navigable at 100k) the
serving point gives mean/min recall@10 = 1.00/1.00 @ 2k, 1.00/1.00 @
20k, 0.98/0.90 @ 100k at the SAME ef (``ann_nsw_mean_recall_at_10``,
``ann_nsw_fixed_ef_scaling``; the numpy-twin sweep in BASELINE.md
"r15 — NSW serving v4").

Determinism contract (the ANN-family rule, ``ann.py`` module
docstring): every selection — per-block top-M, global top-M, per-round
top-ef, final top-k — orders by the 6-dp-rounded cosine with an id
tie-break, so graph, beam trajectory, and answer replay bit-for-bit in
DuckDB for the correctness gate (the BLAS-vs-fold float caveat is the
same pinned-never-happens contract every numpy ANN path carries).

PIPELINE-ORDER REQUIREMENT (measured, SCALE.md r12): when duplicate
multiplicity exceeds M, the exact kNN graph shatters into
per-duplicate-group cliques and NO beam setting can navigate across
them (sf1 replica fixture: 2,000 ten-node components, recall 0.0).
Run the engine's near-dup/semantic dedup BEFORE ``build_knn_graph`` —
measured to restore a single navigable component and the expected
recall, while shrinking the index by the duplicate factor.
``tests/test_nsw.py::test_duplicate_multiplicity_disconnects_graph``
pins the pathology and the fix.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from openai_vector_search_demo_spark.functions.vectors import (
    cosine_similarity,
    id_in,
    vector_lit,
)
from openai_vector_search_demo_spark.stores import local_frame

NSW_M = 16         # out-neighbors kept per node (traversal is SYMMETRIC)
NSW_EF = 12        # beam-width floor (tests' explicit-knob mode)
NSW_EF_SERVE = 160  # CONSTANT serving beam width — independent of n (v4)
NSW_ROUNDS = 8     # frontier expansions (pinned; the oracle unrolls them)
NSW_ENTRY_COUNT = 16  # base-beam entry points taken from the level stack
NSW_HIER_W = 16    # per-level beam width AND seed count (constant in n)
NSW_L1_ROUNDS = 2     # beam rounds per graph-indexed hierarchy level
NSW_HIER_FLOOR = 16   # level size below this -> score the level flat
NSW_STOP_K = 32
"""Early-termination window (r15 — HNSW's efSearch convergence rule,
public method description): a base-beam round that produces NO
newcomer scoring above the {NSW_STOP_K}-th best visited node cannot
change the answer's neighborhood — stop instead of spending the
remaining rounds.  Twin-measured FREE at the recall envelope
(stop_k=32: identical 0.98/0.90 at 100k, 1.00/1.00 at 2k) while toy
corpora converge in ~4 rounds instead of 8 — the saturation rounds
were pure cost.  stop_k=10/16 DO cost tail recall at 100k (min 0.90 →
0.70) — the margin between k and the stop window is what absorbs
late-round improvements.  Deterministic from 6-dp-rounded values, so
every oracle replays the same stop decision.  ``nsw_converged`` is the
rule; both beam engines call it."""
NSW_SEEDS = (1, 101, 201, 301)
"""Legacy fixed, id-spread entry points — kept for explicit-seed callers
and tests.  SERVING default is the HIERARCHICAL entry instead (v4,
r15): flat scan of the top (< {NSW_HIER_FLOOR}-node) subset, then a
constant-width beam down every graph-indexed level — see the module
docstring and ``nsw_serving_params``/``nsw_hier_plan``.  Fixed seeds at
sf0.1 served mean recall@10 = 0.155; the r13 flat coarse entry 0.76
(min 0.50); v3 (√n-autoscaled ef) 0.97 at sf0.1 but DECAYING with n
(0.77 @ 20k, 0.62 @ 100k); v4's constant-ef point holds ≥0.9 across
the same curve — see ``ann_nsw_mean_recall_at_10`` /
``ann_nsw_fixed_ef_scaling``."""

DEFAULT_MAX_BLOCK_ROWS = 8192


def nsw_serving_params(n: int) -> tuple[int, int, int]:
    """(stride, ef, rounds) for a corpus of ``n`` vectors — the
    registered serving policy (v4, r15): coarse stride ⌈√n⌉ (the
    HIERARCHY's geometry — its depth adapts to n), beam width
    ef = {NSW_EF_SERVE} CONSTANT, rounds = {NSW_ROUNDS} constant.
    Per-query work is therefore BOUNDED by rounds·ef·2M score
    evaluations — independent of corpus size — where v3's
    ef = ⌈1.5·√n⌉ made it Θ(√n·M) and its recall at the autoscale
    point still decayed 0.97 → 0.77 → 0.62 across 2k/20k/100k
    (VERDICT r14 #1).  The constant point (with the deeper hierarchy
    and the M = {NSW_M} degree that makes a kNN graph navigable at
    100k) was picked by the numpy-twin A/B (BASELINE.md "r15 — NSW
    serving v4") and holds mean recall ≥ 0.9 on the
    same 3-point curve with a visited count that SATURATES instead of
    growing — receipted by ``ann_nsw_fixed_ef_scaling``."""
    import math
    root = max(2, math.ceil(math.sqrt(max(1, n))))
    return root, NSW_EF_SERVE, NSW_ROUNDS


def nsw_hier_plan(df: DataFrame, n: int,
                  id_col: str = "vec_id") -> tuple[list[int], list[int]]:
    """(strides, counts) of the full level stack for corpus ``df`` of
    size ``n``: level ℓ is the subset ``id % (s1·…·sℓ) == 0`` with
    s1 = ⌈√n⌉ and s_{ℓ+1} = ⌈√n_ℓ⌉, and the stack stops at the first
    level under {NSW_HIER_FLOOR} nodes (``_level_plan`` turns it into
    graph levels and the flat-top modulus).  Level sizes fall as
    n^(1/2), n^(1/4), n^(1/8)… so depth is Θ(log log n) (one graph
    level at 2k, two at 100k and at 10⁹).  This is the reference HNSW's multi-layer
    structure (modules/utilities.py:272-278).  ``df`` must already be
    filtered to non-null vectors.  One job: it collects the level-1
    ids — ⌈n/s1⌉ ≈ √n longs for a dense or hashed id range (316 at
    100k) — and counts every deeper level, a subset of level 1, from
    them on the driver, so a replay is deterministic."""
    import math
    s1 = max(2, math.ceil(math.sqrt(max(1, n))))
    ids = [r[0] for r in df.filter(F.pmod(F.col(id_col), F.lit(s1)) == 0)
           .select(id_col).collect()]
    strides: list[int] = []
    counts: list[int] = []
    prod, cur = 1, max(1, n)
    while True:
        s = max(2, math.ceil(math.sqrt(cur)))
        prod *= s
        cur = sum(1 for i in ids if i % prod == 0)
        strides.append(int(s))
        counts.append(cur)
        if cur < NSW_HIER_FLOOR:
            return strides, counts


def inline_levels(df: DataFrame, n: int, m: int = NSW_M,
                  vec_col: str = "embedding", id_col: str = "vec_id"
                  ) -> tuple[list[tuple[DataFrame, int]], int]:
    """(hier_levels, flat_mod) built inline over the non-null corpus
    ``df`` of size ``n``: the ``nsw_hier_plan`` geometry, one
    (symmetrized exact top-``m`` graph, stride product) pair per
    ``_level_plan`` level (L1 → Ld, graphs unexecuted), and the
    flat-top modulus."""
    plan, flat_mod = _level_plan(*nsw_hier_plan(df, n, id_col=id_col))
    return [(build_l1_graph(df, prod, m=m, vec_col=vec_col, id_col=id_col),
             prod) for _, prod in plan], flat_mod


def nsw_filtered_ef(ef: int, n_match: int, n_total: int,
                    k: int = 10, cap: int = 4) -> int:
    """PREDICATE-AWARE beam widening for post-filter serving (the
    filtered-DiskANN / ACORN practice, public method descriptions):
    a beam of width ef carries ~ef·selectivity predicate matches per
    round, so at low selectivity the visited set can hold fewer than
    ``k`` matches and the post-filter answer starves.  Widen by
    w = ⌈k / (ef·sel)⌉ = ⌈k·n_total / (ef·n_match)⌉ — the factor that
    makes the EXPECTED per-round match count k — clamped to [1, cap]
    (cap bounds worst-case cost at cap·ef·M evaluations per round; an
    empty predicate keeps w = cap rather than diverging).  Measured at
    sf0.1 (BASELINE.md r14): 1% selectivity recall 0.9 → 1.0 at w = 4;
    ≥10% selectivity stays w ≤ 2.  Deterministic from counts, so the
    DuckDB oracle computes the identical width."""
    import math
    if n_match <= 0:
        return ef * cap
    w = math.ceil(k * n_total / (ef * n_match))
    return ef * max(1, min(cap, w))


def symmetrize_edges(edges: DataFrame) -> DataFrame:
    """Undirected traversal relation from a directed top-M adjacency:
    out-edges ∪ reversed in-edges (the HNSW reverse-link practice —
    hub nodes become ENTRYWAYS to their spokes, not one-way sinks;
    measured +0.1–0.2 mean recall at every scale)."""
    fwd = edges.select("src", "dst")
    return fwd.union(fwd.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst"))).distinct()


def build_knn_graph(df: DataFrame, m: int = NSW_M,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    max_block_rows: int = DEFAULT_MAX_BLOCK_ROWS
                    ) -> DataFrame:
    """Exact top-``m`` cosine neighbor list per node as (src, dst, sim)
    rows, sim 6-dp-rounded (the determinism boundary).  Salt-split
    blocked BLAS: every shard pair meets once, per-task memory ≤
    max_block_rows²·8 B, and each task emits only its left rows'
    per-block top-m — the global window then sees ≤ S·m rows per src,
    never the n² pair relation."""
    import pandas as pd

    base = (df.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
    n = base.count()
    s = max(1, -(-n // max_block_rows))

    def block_topm(key, pdf):
        empty = pd.DataFrame({"src": pd.Series([], dtype="int64"),
                              "dst": pd.Series([], dtype="int64"),
                              "sim": pd.Series([], dtype="float64")})
        i, j = key
        a = pdf[pdf["salt"] == i]
        b = pdf[pdf["salt"] == j] if i != j else a
        if len(a) == 0 or len(b) == 0:
            return empty
        ids_a = a["id"].to_numpy(dtype=np.int64)
        ids_b = b["id"].to_numpy(dtype=np.int64)
        mat_a = np.array(a["v"].tolist(), dtype=np.float64)
        mat_b = np.array(b["v"].tolist(), dtype=np.float64)
        na = np.linalg.norm(mat_a, axis=1)
        na[na == 0] = 1.0
        nb = np.linalg.norm(mat_b, axis=1)
        nb[nb == 0] = 1.0
        sims = np.round((mat_a / na[:, None]) @ (mat_b / nb[:, None]).T, 6)
        out = []
        for side, (rids, cids, sm) in enumerate(
                [(ids_a, ids_b, sims)] if i == j
                else [(ids_a, ids_b, sims), (ids_b, ids_a, sims.T)]):
            # threshold-prefilter before the (sim desc, dst asc) sort:
            # keep every candidate >= the (m+8)-th largest sim (ties at
            # the boundary INCLUDED, so the exact top-m — at most one
            # self among them — is provably inside), then order just
            # that slice.  Same selection as a full-row lexsort, ~10×
            # less Python per row — the lever that cut the 100k exact
            # build from ~9 min to ~2 (r15).
            slack = min(m + 8, sm.shape[1])
            for r in range(len(rids)):
                row = sm[r]
                if len(row) > slack:
                    thresh = np.partition(row, len(row) - slack)[
                        len(row) - slack]
                    cand = np.nonzero(row >= thresh)[0]
                else:
                    cand = np.arange(len(row))
                order = np.lexsort((cids[cand], -row[cand]))
                picked = [c for c in cand[order]
                          if cids[c] != rids[r]][:m]
                for c in picked:
                    out.append((rids[r], cids[c], row[c]))
        if not out:
            return empty
        return pd.DataFrame(out, columns=["src", "dst", "sim"])

    salted = base.withColumn(
        "salt", F.pmod(F.xxhash64("id"), F.lit(s)).cast("int"))
    expanded = salted.withColumn("grp", F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(s - 1)),
        lambda k: F.struct(F.least(k, F.col("salt")).alias("i"),
                           F.greatest(k, F.col("salt")).alias("j")))))
    cands = (expanded
             .select("id", "v", "salt",
                     F.col("grp.i").alias("i"), F.col("grp.j").alias("j"))
             .groupBy("i", "j")
             .applyInPandas(block_topm,
                            schema="src long, dst long, sim double"))
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                          F.col("dst").asc())
    return (cands.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= m).drop("_rn"))


def build_knn_graph_sharded(df: DataFrame, centroids,
                            m: int = NSW_M, n_cells: int = 8,
                            n_assign: int = 2,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """CELL-BOUNDED graph build with boundary MULTI-ASSIGNMENT — the
    100 TB build path the module docstring promises, as a first-class
    operator (the SPANN / sharded-DiskANN practice, public method
    descriptions): nodes are assigned to their top-``n_assign``
    super-cells (super-cell score = max spherical dot over the trained
    quantizer's centroids folded by ``cid % n_cells``; ties → smaller
    super-cell id), every super-cell computes its members' within-cell
    exact top-``m`` in ONE bounded task, and a global per-src window
    reduces the ≤ n_assign·m candidates per node to the final list.
    Per-task work is |cell|² — never n² — and the multi-assignment
    replicates BOUNDARY nodes into every cell they are near, which is
    what keeps cross-cell true neighbors discoverable:
    ``ann_nsw_cellbuild_mean_recall_at_10`` measures n_assign=1 vs 2 at
    0.495 → 0.92 (sf0.01) and 0.545 → 0.76 (sf0.1) — the replicated
    build matches the GLOBAL build's recall (0.93 / 0.76) with the
    same edge budget."""
    import pandas as pd

    cent = np.asarray(centroids, dtype=np.float64)
    base = (df.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))

    def assign(pdf_iter):
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            nm = np.linalg.norm(mat, axis=1)
            nm[nm == 0] = 1.0
            dots = (mat / nm[:, None]) @ cent.T
            sup = np.full((len(ids), n_cells), -np.inf)
            for j in range(cent.shape[0]):
                s = j % n_cells
                sup[:, s] = np.maximum(sup[:, s], dots[:, j])
            rows = []
            for r in range(len(ids)):
                order = np.lexsort((np.arange(n_cells), -sup[r]))
                for s in order[:n_assign]:
                    rows.append((int(ids[r]), list(pdf["v"].iloc[r]),
                                 int(s)))
            yield pd.DataFrame(rows, columns=["id", "v", "sup"])

    exploded = base.mapInPandas(
        assign, schema="id long, v array<double>, sup int")

    def cell_topm(key, pdf):
        import pandas as pd
        empty = pd.DataFrame({"src": pd.Series([], dtype="int64"),
                              "dst": pd.Series([], dtype="int64"),
                              "sim": pd.Series([], dtype="float64")})
        if len(pdf) < 2:
            return empty
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        nm = np.linalg.norm(mat, axis=1)
        nm[nm == 0] = 1.0
        u = mat / nm[:, None]
        sims = np.round(u @ u.T, 6)
        out = []
        for r in range(len(ids)):
            row = sims[r]
            order = np.lexsort((ids, -row))
            picked = [c for c in order if ids[c] != ids[r]][:m]
            for c in picked:
                out.append((int(ids[r]), int(ids[c]), float(row[c])))
        return pd.DataFrame(out, columns=["src", "dst", "sim"]) \
            if out else empty

    cands = (exploded.groupBy("sup")
             .applyInPandas(cell_topm,
                            schema="src long, dst long, sim double")
             .dropDuplicates(["src", "dst"]))
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                          F.col("dst").asc())
    return (cands.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= m).drop("_rn"))


NSW_BUCKET_ROWS = 1 << 17
"""Stored rows per src bucket: opening one more parquet file costs
about as much CPU as reading 10^5 rows or more (measured ~9 ms a file
and ≥ 34 ns a row on local[4]), and a serving round's frontier touches
nearly every bucket, so a layer is split only once each bucket holds
this many rows."""
NSW_MAX_BUCKETS = 16


def nsw_buckets(nodes: int, m: int = NSW_M) -> int:
    """Bucket count of a stored graph layer of ``nodes`` nodes: its
    2·m·nodes dual rows over ``NSW_BUCKET_ROWS`` per bucket, in
    [1, {NSW_MAX_BUCKETS}]."""
    return min(NSW_MAX_BUCKETS, max(1, 2 * m * nodes // NSW_BUCKET_ROWS))


def write_nsw_index(df: DataFrame, path: str, m: int = NSW_M,
                    vec_col: str = "embedding", id_col: str = "vec_id"
                    ) -> None:
    """Persist the serving artifact: the adjacency table, BUCKETED BY
    SRC (one directory per ``pmod(src, b)``, one file each) so a beam
    round's frontier lookup reads only the frontier's buckets; the
    vectors stay in the source table.  Each layer's bucket count ``b``
    is ``nsw_buckets`` of its node count — one bucket below 8192 nodes
    at M = {NSW_M}, where a serving round's frontier would touch every
    bucket anyway — and lands per layer in the manifest.

    Each directed top-M edge is written in BOTH directions: the
    out-edge with ``fwd = true`` (the canonical list the merge-on-read
    top-M window resolves) and a ``fwd = false`` mirror under the other
    endpoint's bucket, so symmetric traversal stays one src-pruned read
    per round.  Mirrors are traversal HINTS the stored lookup validates
    against the live top-M, which keeps them exact under upserts.

    Every ``nsw_hier_plan`` level with ≥ {NSW_HIER_FLOOR} nodes gets its
    own exact top-M graph under ``_L1``, ``_L2``, … in the same dual
    format, and the geometry lands in the manifest ``_L1_META``.  Level
    ℓ is n^(1/2^ℓ)-sized: depth is Θ(log log n) and serving entry costs
    depth·{NSW_L1_ROUNDS}·{NSW_HIER_W}·2M evaluations — flat in n."""
    base = df.filter(F.col(vec_col).isNotNull())
    n = base.count()
    strides, counts = nsw_hier_plan(base, n, id_col=id_col)
    plan = _level_plan(strides, counts)[0]
    buckets = {"": nsw_buckets(n, m),
               **{f"_L{lvl}": nsw_buckets(counts[lvl - 1], m)
                  for lvl, _ in plan}}
    _write_graph_dual(build_knn_graph(df, m=m, vec_col=vec_col,
                                      id_col=id_col), path, buckets[""])
    for lvl, prod in plan:
        sub = base.filter(F.pmod(F.col(id_col), F.lit(int(prod))) == 0)
        _write_graph_dual(build_knn_graph(sub, m=m, vec_col=vec_col,
                                          id_col=id_col),
                          f"{path.rstrip('/')}/_L{lvl}",
                          buckets[f"_L{lvl}"])
    _write_hier_meta(df.sparkSession, path, strides, counts, m, n, buckets)


def _level_plan(strides, counts) -> tuple[list, int]:
    """([(level, stride product)] of the graph levels, flat-entry
    modulus): levels stop at the first one under NSW_HIER_FLOOR, whose
    subset is the flat-scanned entry top."""
    levels, prod = [], 1
    for lvl, (s, cnt) in enumerate(zip(strides, counts), start=1):
        prod *= s
        if cnt < NSW_HIER_FLOOR:
            break
        levels.append((lvl, prod))
    return levels, prod


_STORE_SCHEMA = "src long, dst long, sim double, fwd boolean, bucket int"
"""What ``_write_graph_dual`` and upsert segments hold for the base
graph and every ``_L*`` level (``bucket`` is the base's partition
directory and a column of a segment's file).
Serving reads the store with it instead of inferring it: inference is
one parquet-footer job per read."""
_TOMBSTONE_SCHEMA = "vec_id long"


def _dual_rows(edges: DataFrame, nb: int) -> DataFrame:
    """A directed top-M adjacency in the store's DUAL format: every edge
    under its src bucket with ``fwd = true`` (the canonical list
    merge-on-read resolves) plus a ``fwd = false`` mirror under the
    dst's bucket (symmetric traversal stays a src-pruned point read),
    the layer split into ``nb`` buckets — see ``write_nsw_index``."""
    both = (edges.withColumn("fwd", F.lit(True))
            .unionByName(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst"), "sim")
                         .withColumn("fwd", F.lit(False))))
    return both.withColumn(
        "bucket", F.pmod(F.col("src"), F.lit(nb)).cast("int"))


def _write_graph_dual(edges: DataFrame, path: str,
                      nb: int) -> None:
    """Persist a directed top-M adjacency at ``path`` (``_dual_rows``),
    one file in each of ``nb`` bucket directories."""
    (_dual_rows(edges, nb).repartition(F.col("bucket"))
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


_META = "_L1_META"
"""The NSW store's manifest (``stores`` module docstring): the frozen
write-time geometry plus the segments upserts and deletes added."""


def _hier_meta(strides: list[int], counts: list[int], m: int,
               n: int, buckets: dict) -> dict:
    """The frozen write-time geometry ``_L1_META`` records: the full
    ``strides``/``counts`` level stack, ``stride`` (= ``strides[0]``,
    what serving slots compare their stride against), ``m``, the
    corpus size ``n`` (r16) so serving slots can derive their stride
    from the store artifact instead of a per-run count job, and each
    layer's bucket count (``buckets``, keyed ``""``, ``_L1``, …)."""
    return {"stride": int(strides[0]),
            "m": int(m),
            "strides": [int(s) for s in strides],
            "counts": [int(c) for c in counts],
            "n": int(n),
            "buckets": {k: int(b) for k, b in buckets.items()}}


def _write_hier_meta(spark, path: str, strides: list[int],
                     counts: list[int], m: int, n: int,
                     buckets: dict) -> None:
    """Write a fresh store's ``_L1_META`` (no segments yet)."""
    import json

    from openai_vector_search_demo_spark.stores import fs_write_text
    fs_write_text(spark, f"{path.rstrip('/')}/{_META}",
                  json.dumps(_hier_meta(strides, counts, m, n, buckets)))


def _layer_buckets(path: str, meta: dict, layer: str) -> int:
    """The bucket count ``meta`` records for ``layer``: every reader and
    writer of a layer must bucket it alike, or a pruned lookup silently
    misses rows, so a manifest without it raises."""
    try:
        return int(meta["buckets"][layer])
    except (KeyError, TypeError):
        raise ValueError(
            f"{path}: {_META} records no bucket count for layer "
            f"{layer or 'base'!r}; rebuild the store with "
            "write_nsw_index") from None


def build_l1_graph(df: DataFrame, stride: int, m: int = NSW_M,
                   vec_col: str = "embedding", id_col: str = "vec_id"
                   ) -> DataFrame:
    """One hierarchy level, inline form: the exact top-``m`` graph over
    the subset ``id % stride == 0`` (pass the stride PRODUCT for deeper
    levels), already SYMMETRIZED — the shape the in-memory beam and the
    oracle consume directly (the stored path uses the dual fwd/mirror
    format instead so levels stay incrementally maintainable)."""
    coarse = df.filter(F.pmod(F.col(id_col), F.lit(int(stride))) == 0)
    return symmetrize_edges(
        build_knn_graph(coarse, m=m, vec_col=vec_col, id_col=id_col))


def write_nsw_index_tenants(df: DataFrame, path: str,
                            tenant_col: str = "tenant",
                            m: int = NSW_M,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> list:
    """TENANT-SCOPED graph stores — the reference's per-alias physical
    isolation (modules/utilities.py:282-287: each index alias is both
    a NAME and a separate physical index) applied to the graph tier:
    one logical store, laid out ``path/tenant=T/bucket=B`` with each
    tenant's graph, L1 layer, and metadata built from ITS OWN vectors
    only.  A tenant's serve (``nsw_tenant_path`` + ``nsw_stored_knn``)
    opens only its subtree — other tenants' buckets are never listed,
    let alone read (stronger than a partition filter: the prune is
    structural).  Cross-tenant edges cannot exist by construction,
    which is the isolation a filter-on-one-graph cannot give.  The
    per-tenant loop is |tenants| driver iterations around fully
    distributed builds — the Hive-partitioned-table write pattern.
    Returns the tenant values written."""
    from openai_vector_search_demo_spark.stores import tenant_values
    tenants = tenant_values(df, tenant_col)
    for tv in tenants:
        sub = df.filter(F.col(tenant_col) == tv).drop(tenant_col)
        write_nsw_index(sub, nsw_tenant_path(path, tv), m=m,
                        vec_col=vec_col, id_col=id_col)
    return tenants


def nsw_tenant_path(path: str, tenant) -> str:
    """The tenant's physical subtree inside a ``write_nsw_index_tenants``
    store (Hive-style partition naming, so the whole store also reads
    as one partitioned table for offline jobs).  The value is
    Hive-escaped (``escape_partition_value``): the composed path always
    names the directory ``partitionBy`` would write, and a
    traversal-shaped tenant value ('/', '..') cannot escape the
    subtree."""
    from openai_vector_search_demo_spark.stores import (
        escape_partition_value,
    )
    return f"{path.rstrip('/')}/tenant={escape_partition_value(tenant)}"


NSW_PREFETCH_CAP = 8192
"""Adjacency-prefetch bound for the fused round (r16): a round that
scores ≤ this many newcomers ALSO prefetches their adjacency inside
the same action, so the next round pays zero lookup jobs; a larger
round skips the prefetch — its ≤ ef·2M candidates would drag MBs of
edge rows the stop rule may never use into the collect — and the next
round pays one frontier-sized catch-up read instead (the r15 two-read
shape, now the rare case).  At the registered serving point
(ef = {NSW_EF_SERVE}, M = {NSW_M}) a round's candidate set tops out at
ef·2M = 5120 ids ≤ the cap, so serving rounds stay fused.  The same
ef·2M bounds the whole-store entry (``beam_search_knn``): a base layer
of at most that many nodes is read whole in the entry action, which
the cap would admit in one round anyway."""


class AdjRelation:
    """Pruned adjacency RELATION for the fused one-action-per-round
    serving engine (r16, guide §1.2/§2.6 — VERDICT r15 #1): ``rel(ids)``
    returns the lookup's stored rows for ``src IN ids`` as an
    UNEXECUTED DataFrame carrying at least (src, dst) — plus (sim, fwd)
    for delta stores; the engine projects the columns it reads — so the
    engine can UNION it with the round's scoring scan and pay ONE
    scheduler round-trip for the scores AND the next round's adjacency
    (prefetch).  The stored lookups (``_stored_adj``) filter with two
    ``id_in`` lists, so building a round's read is a constant number of
    driver↔JVM calls whatever the frontier width.  ``trusted``
    marks a never-upserted relation: every stored row is a live
    undirected edge — no merge-on-read window, no mirror validation.
    Untrusted relations are resolved DRIVER-side from the prefetched
    rows (the r15 ``_topm_from`` replay over stored 6-dp sims): per-src
    top-``m`` over distinct fwd pairs, plus mirror rows validated
    against the mirrored node's own top-m — fed by the SAME prefetched
    rows, so r15's separate per-round validation read disappears.
    ``sub(mod)`` is the rows of every src ``≡ 0 (mod mod)``: the entry
    scan reads the DEEPEST hierarchy level whole with it, and the next
    layer's adjacency of that level's nodes.  That level holds fewer
    than NSW_HIER_FLOOR² nodes by construction, so the entry returns
    < 256 scores and < 2·256·2M adjacency rows at ANY corpus size.
    ``n`` is the layer's node count when known (a stored base layer:
    the manifest's ``n``), else None; a base layer of at most ef·2M
    nodes is read whole with ``sub(1)`` instead."""

    def __init__(self, rel, sub, trusted: bool = True, m: int = NSW_M,
                 n: int | None = None):
        self.rel = rel
        self.sub = sub
        self.trusted = trusted
        self.m = m
        self.n = n


def _dsc(s):
    """Spark's (sim DESC NULLS LAST, NaN largest) as an ascending key —
    stored sims are 6-dp-rounded doubles written by the build/upsert,
    so sorting THEM driver-side replays the merge-on-read window's
    order bit-for-bit (no recomputation)."""
    if s is None:
        return (2, 0.0)
    if s != s:          # NaN sorts above every number under DESC
        return (0, 0.0)
    return (1, -s)


def _topm_from(rows, mm: int) -> list:
    """Driver replay of the merge-on-read DENSE_RANK window over
    (sim DESC, dst ASC), rank ≤ mm, for ONE src's (dst, sim, fwd) rows:
    distinct (sim, dst) fwd pairs — an at-least-once replay's
    byte-identical appended rows collapse, exactly like dense_rank."""
    pairs = {(s, d) for d, s, f in rows if f}
    return [d for _, d in
            sorted(pairs, key=lambda p: (_dsc(p[0]), p[1]))[:mm]]


def nsw_converged(stop_k: int | None, n_visited: int, kth, best_new
                  ) -> bool:
    """The ``NSW_STOP_K`` stop rule — one predicate for both beam
    engines, over three values of one query after a base round:
    ``n_visited`` scored nodes, ``kth`` the ``stop_k``-th best visited
    value (read only when ``n_visited > stop_k``) and ``best_new`` the
    round's best newcomer (None when no newcomer scored).  The beam
    converged when more than ``stop_k`` nodes are visited and no
    newcomer reaches ``kth``; ``stop_k=None`` never stops."""
    return (stop_k is not None and n_visited > stop_k
            and (best_new is None or best_new < kth))


def beam_search_knn(edges, source: DataFrame,
                    qvec: Sequence[float], k: int = 10,
                    ef: int = NSW_EF, rounds: int = NSW_ROUNDS,
                    seeds: Sequence[int] = NSW_SEEDS,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    sim_col: str = "similarity",
                    exclude_ids: Sequence[int] | None = None,
                    n_entry: int = NSW_ENTRY_COUNT,
                    hier_levels: Sequence = (),
                    flat_mod: int | None = None,
                    stop_k: int | None = NSW_STOP_K) -> DataFrame:
    """Multi-seed beam search over an adjacency relation — the
    SINGLE-QUERY serving form, FUSED (r16): each beam round pays ONE
    Spark action that both scores the round's unseen candidates (an
    IN-pushdown point read of ``source``) and PREFETCHES those
    candidates' adjacency (the same pruned read the next round would
    otherwise issue), unioned into a single plan — at real-cluster
    scheduler latency the action count IS the query latency, and r15's
    shape paid 2-3 actions per round (broadcast build + probe, or
    read + score ∥ validate).  Candidate resolution, visited-set
    dedup, per-round top-ef, merge-on-read top-m and mirror validation
    are Python selections over the KB-class prefetched state — zero
    extra jobs.  Scores stay exact 6-dp-rounded cosines computed in
    the plan; every selection orders by (score desc, id asc) — the
    same total order Spark's orderBy gives — so the trajectory is
    oracle-replayable bit-for-bit and identical to the r15 shapes.

    Planning a round is O(1) driver↔JVM calls: the score expression
    (query literal + cosine) is built ONCE per serve and reused by
    every round, the union projections are ``selectExpr`` strings, the
    point reads are ``id_in`` lists (one parsed IN at any width), and
    collected rows are read by position.  The answer is a driver-local
    relation (``stores.local_frame``, an Arrow ``LocalRelation``):
    collecting it runs no Spark job, so a serve's only jobs are its
    entry scan and its beam rounds (the entry scan alone after a
    whole-store read, below).

    Entry (the module docstring's one form): with ``flat_mod`` set,
    the flat top subset ``id % flat_mod == 0`` is scored exactly, then
    the descent runs ``hier_levels`` from the deepest level up: each
    level gets {NSW_L1_ROUNDS} fused rounds at CONSTANT width
    {NSW_HIER_W}, and the top-``n_entry`` of everything visited seeds
    the base beam.  The flat top is a subset of the deepest level
    (stride product d), which holds < NSW_HIER_FLOOR² nodes, so ONE
    entry action reads that whole level: every ``id % d == 0`` score
    (no null filter, as a round's point read), the level's adjacency
    (``sub(d)``) and the next layer's adjacency of those nodes.  Its
    descent rounds then replay from that state with no action, and the
    next phase starts with its frontier's adjacency in hand.  Each
    upper-level round prefetches the next phase's adjacency too
    (``fused_round``'s ``also``), so no transition pays a catch-up
    read; everything else is one action per round.  With no levels the
    scan scores the flat top alone (a ``sub`` of the base graph would
    be an unpruned scan of the whole store), so the first base round
    pays one catch-up read.  Without ``flat_mod``, ``seeds`` are used
    verbatim — their known ids let the seed scoring and seed adjacency
    ride one action.  After each base round ``nsw_converged`` reads the
    visited dict and may end the beam.

    WHOLE-STORE entry: when the base relation's node count ``n`` is
    known (a stored base) and at most ef·2M — the most one base round
    can score, an ``ef`` frontier × 2M symmetric neighbours — the
    entry action (either form) reads everything instead: every source
    row's score and every layer's adjacency (``sub(1)``), so no round
    or descent step after it runs an action and a serve is ONE job.
    The selections are unchanged, so answer and visited set are the
    per-round path's.

    ``edges`` is an ``AdjRelation`` (the stored path's bucket-pruned
    form) or a DataFrame of (src, dst); ``hier_levels`` holds one
    ``(relation, stride product)`` pair per level, L1 → Ld (the
    descent runs it reversed), each relation of either form."""
    # Per-serve constant plan parts, built ONCE: a Column is a JVM
    # object whose construction costs driver↔JVM round trips (the score
    # expression alone ~1k), so the rounds reuse these; the union
    # projections are selectExpr strings (parsed JVM-side, no Column
    # objects at all).  Round rows are (id, label, score) tuples, and
    # union rows are read by POSITION — (_t, _a, _lbl, _s, _b, _f) =
    # 0..5 — since Row["name"] is a field-list search per access.
    score_cols = [F.col(id_col), F.col("label"),
                  F.round(cosine_similarity(F.col(vec_col),
                                            vector_lit(qvec)), 6)
                  .alias("_s")]
    sb_sql = ["0 AS _t", f"CAST(`{id_col}` AS BIGINT) AS _a",
              "`label` AS _lbl", "CAST(_s AS DOUBLE) AS _s",
              "CAST(NULL AS BIGINT) AS _b"]
    lbl_null = (f"CAST(NULL AS "
                f"{source.schema['label'].dataType.simpleString()}) AS _lbl")

    def _as_adj(e):
        if isinstance(e, AdjRelation):
            return e
        return AdjRelation(
            lambda ids, _e=e: _e.filter(id_in("src", ids)),
            lambda mod, _e=e: _e.filter(
                F.pmod(F.col("src"), F.lit(int(mod))) == 0))

    def skey(r):
        s = r[2]
        # Spark orderBy(desc): NaN above every number, NULLs last
        if s is None:
            return (2, 0.0, r[0])
        if s != s:
            return (0, 0.0, r[0])
        return (1, -s, r[0])

    def score_mod(mod: int) -> DataFrame:
        return source.filter(
            F.pmod(F.col(id_col), F.lit(int(mod))) == 0).select(
            *score_cols, F.col(vec_col).isNotNull().alias("_nn"))

    def score_ids(ids) -> DataFrame:
        # round scoring carries no isNotNull filter — exactly the r15
        # shapes (a null vector scores NULL and sorts last)
        return source.filter(id_in(id_col, ids)).select(*score_cols)

    def _sb(df: DataFrame, f: str = "true") -> DataFrame:
        """Scoring branch normalized for the round union; ``f`` fills
        ``_f`` (a ``score_mod`` scan passes its not-null flag)."""
        return df.selectExpr(*sb_sql, f"{f} AS _f")

    def _ab(df: DataFrame, trusted: bool, tag: int = 1) -> DataFrame:
        """Adjacency branch normalized for the round union; ``tag``
        separates the primary prefetch from a NEXT-lookup prefetch
        riding the same action.  A trusted relation is read as (src,
        dst) whatever else it carries — only its dsts are used; a
        delta relation brings (src, dst, sim, fwd)."""
        return df.selectExpr(
            f"{tag} AS _t", "CAST(src AS BIGINT) AS _a", lbl_null,
            "CAST(NULL AS DOUBLE) AS _s" if trusted
            else "CAST(sim AS DOUBLE) AS _s",
            "CAST(dst AS BIGINT) AS _b",
            "true AS _f" if trusted else "fwd AS _f")

    def _collect(branches):
        df = branches[0]
        for b in branches[1:]:
            df = df.unionByName(b)
        scored, adj = [], {}
        for r in df.collect():
            if r[0] == 0:
                scored.append(r)
            else:
                adj.setdefault(r[0], []).append(r)
        return scored, adj

    def _ingest(cache, ids, adjrows):
        for i in ids:
            cache.setdefault(int(i), [])
        for r in adjrows:
            cache.setdefault(r[1], []).append((r[4], r[3], r[5]))

    caches: dict[int, dict] = {}
    # scores the entry scan prefetched: every source row whose id is
    # ≡ 0 (mod pre_mod), so a round scores only ids outside it
    pre: dict[int, tuple] = {}
    pre_mod = 0

    def _cache(adj) -> dict:
        return caches.setdefault(id(adj), {})

    def fused_round(adj: AdjRelation, frontier, seen,
                    also=None) -> dict:
        """One beam round = at most ONE action (plus a frontier-sized
        catch-up read only when this lookup's adjacency was never
        prefetched), and none when the entry scan prefetched everything
        it needs.  ``also=(next_adj, seed_ids)`` rides a NEXT-lookup
        prefetch on the same action: the next phase's frontier is a
        subset of (current top seed_ids ∪ this round's todo), so
        prefetching that superset's next-level adjacency now makes the
        transition catch-up read unnecessary (guide §2.6 — the extra
        rows ride an action already being paid)."""
        cache = _cache(adj)
        missing = sorted({int(i) for i in frontier} - cache.keys())
        if missing:
            _, adjrows = _collect([_ab(adj.rel(missing), adj.trusted)])
            _ingest(cache, missing, adjrows.get(1, []))
        certain, mirrors = set(), set()
        for i in frontier:
            rows = cache.get(int(i), ())
            if adj.trusted:
                certain.update(d for d, _s, _f in rows)
            else:
                certain.update(_topm_from(rows, adj.m))
                mirrors.update((int(i), d)
                               for d, s, f in rows if not f)
        todo = sorted((certain | {x for _, x in mirrors}) - seen)
        if not todo:
            return {}
        need = sorted(set(todo) - cache.keys())
        if len(todo) > NSW_PREFETCH_CAP:
            # oversize round: prefetch only what mirror VALIDATION
            # needs (delta stores); the next round catches up instead
            need = sorted({x for _, x in mirrors
                           if x not in seen and x not in cache}) \
                if not adj.trusted else []
        fresh = [i for i in todo if not pre_mod or i % pre_mod]
        branches = [_sb(score_ids(fresh))] if fresh else []
        if need:
            branches.append(_ab(adj.rel(need), adj.trusted))
        also_ids = []
        if also is not None and len(todo) <= NSW_PREFETCH_CAP:
            next_adj, seed_ids = also
            also_ids = sorted(({int(i) for i in seed_ids}
                               | set(todo)) - _cache(next_adj).keys())
            if also_ids:
                branches.append(_ab(next_adj.rel(also_ids),
                                    next_adj.trusted, tag=2))
        scored, adjrows = _collect(branches) if branches else ([], {})
        scored += [pre[i] for i in todo if i in pre]
        _ingest(cache, need, adjrows.get(1, []))
        if also_ids:
            _ingest(_cache(also[0]), also_ids, adjrows.get(2, []))
        if not adj.trusted and mirrors:
            valid = set()
            for w, x in mirrors:
                if x in valid:
                    continue
                if w in _topm_from(cache.get(x, ()), adj.m):
                    valid.add(x)
            keep = certain | valid
            scored = [r for r in scored if r[1] in keep]
        new = {}
        for r in scored:
            i = r[1]
            if i not in seen and i not in new:
                new[i] = (i, r[2], r[3])
        return new

    base_adj = _as_adj(edges)
    # the layers from the entry down: deepest level first, base last
    chain = [_as_adj(rel) for rel, _ in reversed(hier_levels)] + [base_adj]
    # the entry action reads, for every id ≡ 0 (mod d), its score and
    # its adjacency in each of ``layers``
    if base_adj.n is not None and base_adj.n <= ef * 2 * base_adj.m:
        # one base round may score ef·2M nodes: a store no bigger is
        # read whole, and no round after the entry needs an action
        d, layers = 1, chain
    elif flat_mod is not None:
        # the flat top is a subset of the deepest level (stride product
        # d): one action reads that level's scores and adjacency whole,
        # plus the next layer's adjacency of its nodes
        d = int(hier_levels[-1][1]) if hier_levels else int(flat_mod)
        layers = chain[:2] if hier_levels else []
    else:
        d, layers = None, []
    if d is not None:
        scored0 = score_mod(d)
        schema = scored0.schema
        rows, adjrows = _collect(
            [_sb(scored0, "_nn")] + [_ab(a.sub(d), a.trusted, tag=t)
                                     for t, a in enumerate(layers, 1)])
        if layers:
            pre, pre_mod = {r[1]: r for r in rows}, d
            # every id ≡ 0 (mod d) the read met has all its rows in hand
            known = {i for i in set(pre).union(
                *({r[4] for r in rs} for rs in adjrows.values()))
                if i % d == 0}
            for t, a in enumerate(layers, 1):
                _ingest(_cache(a), known, adjrows.get(t, []))
    if flat_mod is not None:
        visited = {r[1]: (r[1], r[2], r[3]) for r in rows
                   if r[5] and r[1] % flat_mod == 0}
        seen = set(visited)
        for adj, nxt in zip(chain, chain[1:]):
            hf = [r[0] for r in
                  sorted(visited.values(), key=skey)[:NSW_HIER_W]]
            for _ in range(NSW_L1_ROUNDS):
                if not hf:
                    break
                # the next phase's frontier ⊆ current top pool ∪ this
                # round's newcomers: prefetch its adjacency NOW so the
                # level transition pays no catch-up action
                seed_ids = [r[0] for r in
                            sorted(visited.values(), key=skey)
                            [:max(NSW_HIER_W, n_entry)]]
                new = fused_round(adj, hf, seen, also=(nxt, seed_ids))
                if not new:
                    break
                seen.update(new)
                visited.update(new)
                hf = [r[0] for r in
                      sorted(new.values(), key=skey)[:NSW_HIER_W]]
        frontier = [r[0] for r in
                    sorted(visited.values(), key=skey)[:n_entry]]
    else:
        seed_ids = [int(x) for x in seeds]
        if pre_mod:     # the whole-store read scored every seed
            scored = [pre[i] for i in seed_ids if i in pre]
        else:
            # seeds are known ids: the seed scoring (an IN point read —
            # value-identical to the r15 broadcast join) and the seed
            # adjacency prefetch ride one action
            scored0 = score_ids(seed_ids)
            schema = scored0.schema
            branches = [_sb(scored0), _ab(base_adj.rel(sorted(seed_ids)),
                                          base_adj.trusted)]
            scored, adjrows = _collect(branches)
            _ingest(_cache(base_adj), sorted(seed_ids),
                    adjrows.get(1, []))
        visited = {r[1]: (r[1], r[2], r[3]) for r in scored}
        frontier = seed_ids
        seen = set(visited) | set(frontier)
    for _ in range(rounds):
        if not frontier:
            break
        new = fused_round(base_adj, frontier, seen)
        if not new:
            break
        seen.update(new)
        visited.update(new)
        if stop_k is not None:
            vals = sorted((r[2] for r in visited.values()
                           if r[2] is not None), reverse=True)
            if nsw_converged(
                    stop_k, len(vals),
                    vals[stop_k - 1] if len(vals) > stop_k else None,
                    max((r[2] for r in new.values() if r[2] is not None),
                        default=None)):
                break
        frontier = [r[0] for r in
                    sorted(new.values(), key=skey)[:ef]]
    out_rows = sorted(visited.values(), key=skey)
    if exclude_ids:
        # SOFT DELETE (the FAISS IDSelector pattern): tombstoned nodes
        # remain traversable GHOSTS — they keep the graph connected and
        # may carry the beam — but can never be returned.  Hard removal
        # is the documented recompaction case (rebuild without them).
        dead = set(exclude_ids)
        out_rows = [r for r in out_rows if r[0] not in dead]
    return local_frame(source.sparkSession, out_rows[:k], StructType(
        schema.fields[:2] + [StructField(sim_col, schema["_s"].dataType,
                                         schema["_s"].nullable)]))


def beam_search_knn_batch(edges: DataFrame, source: DataFrame,
                          queries: DataFrame, k: int = 10,
                          ef: int = NSW_EF, rounds: int = NSW_ROUNDS,
                          seeds: Sequence[int] = NSW_SEEDS,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          qid_col: str = "qid", qvec_col: str = "qv",
                          sim_col: str = "similarity",
                          n_entry: int = NSW_ENTRY_COUNT,
                          hier_levels: Sequence = (),
                          flat_mod: int | None = None,
                          stop_k: int | None = NSW_STOP_K) -> DataFrame:
    """BATCHED multi-query beam search — the serving form for query
    THROUGHPUT: the frontier is a (qid, node) RELATION, and every round
    is one edge join + one anti join + one broadcast-scored point-read
    + one per-qid top-ef window, so per-round planning is paid once for
    all queries instead of once per query.  Returns the per-qid top-k
    of all visited nodes, exact cosines, 6-dp-rounded with (qid, sim
    desc, id asc) determinism.

    Entry is the one form ``beam_search_knn`` takes: with ``flat_mod``
    set, every qid scores the shared flat top subset ``id % flat_mod ==
    0``, then descends ``hier_levels`` ((DataFrame of (src, dst), stride
    product) pairs, L1 → Ld, run deepest first) — per level,
    {NSW_L1_ROUNDS} qid-keyed rounds at constant width {NSW_HIER_W}
    re-seeded from the running pool's per-qid top — and enters the
    base graph at its per-qid top-``n_entry`` of everything visited.
    Without ``flat_mod``, every qid starts from ``seeds``.

    After each base round the stop rule ``nsw_converged`` runs per qid
    on ONE collect: a row per qid that scored a newcomer this round
    (visited count, ``stop_k``-th best visited value, best newcomer),
    so the query count bounds it.  The frontier keeps the qids that
    did not converge; the loop ends when none is left."""

    q = queries.select(F.col(qid_col).alias("qid"),
                       F.col(qvec_col).alias("_qv"))
    vecs = source.filter(F.col(vec_col).isNotNull()) \
        .select(id_col, vec_col)

    def score(ids_df: DataFrame) -> DataFrame:
        return (ids_df.join(vecs, id_col)
                .join(F.broadcast(q), "qid")
                .withColumn("_s", F.round(
                    cosine_similarity(F.col(vec_col), F.col("_qv")), 6))
                .select("qid", id_col, "_s"))

    wf = Window.partitionBy("qid").orderBy(F.col("_s").desc(),
                                           F.col(id_col).asc())

    def top(df: DataFrame, n: int) -> DataFrame:
        return (df.withColumn("_rn", F.row_number().over(wf))
                .filter(F.col("_rn") <= n)
                .select("qid", F.col(id_col).alias("src")))

    def expand(ledges: DataFrame, front: DataFrame, visited: DataFrame):
        """One qid-keyed round: the frontier's unvisited neighbors,
        scored; returns (newcomers, visited) both checkpointed.
        localCheckpoint, not persist: the checkpoint CUTS the logical
        lineage each round, so the plan the driver analyzes stays
        round-sized instead of growing every round deeper — the deep
        tree (TreeNode string rendering during analysis) is what OOM'd
        a default-1g gate session late in a 50-slot run (r13).  State
        is ef·M rows/qid — KB-class blocks (the mmr pattern)."""
        cand = (ledges.join(front, "src")
                .select("qid", F.col("dst").alias(id_col)).distinct())
        new = cand.join(visited.select("qid", id_col),
                        ["qid", id_col], "left_anti")
        scored = score(new).localCheckpoint()
        return scored, visited.unionByName(scored).localCheckpoint()

    if flat_mod is not None:
        seed_df = (q.select("qid").crossJoin(
            vecs.filter(F.pmod(F.col(id_col),
                               F.lit(int(flat_mod))) == 0)
            .select(id_col)))
        visited = score(seed_df).localCheckpoint()
        for ledges, _ in reversed(list(hier_levels)):
            hf = top(visited, NSW_HIER_W)
            for _ in range(NSW_L1_ROUNDS):
                scored, visited = expand(ledges, hf, visited)
                hf = top(scored, NSW_HIER_W)
        frontier = top(visited, n_entry)
    else:
        seed_df = (q.select("qid").crossJoin(
            source.sparkSession.createDataFrame(
                [(int(x),) for x in seeds], f"{id_col} long")))
        visited = score(seed_df).localCheckpoint()
        frontier = visited.select("qid", F.col(id_col).alias("src"))
    kn = Window.partitionBy("qid").orderBy(F.col("_s").desc())
    for _ in range(rounds):
        scored, visited = expand(edges, frontier, visited)
        frontier = top(scored, ef)
        if stop_k is not None:
            # kth is the stop_k-th largest VALUE (a rank without
            # tie-break is value-deterministic); the inner join keeps
            # only qids that scored a newcomer this round
            stats = (visited.withColumn("_kn", F.row_number().over(kn))
                     .groupBy("qid")
                     .agg(F.count("_s"),
                          F.max(F.when(F.col("_kn") == stop_k,
                                       F.col("_s"))))
                     .join(scored.groupBy("qid").agg(F.max("_s")), "qid"))
            alive = [r[0] for r in stats.collect()
                     if not nsw_converged(stop_k, r[1], r[2], r[3])]
            if not alive:
                break
            frontier = frontier.filter(id_in("qid", alive))
    return (visited.withColumn("_rn", F.row_number().over(wf))
            .filter(F.col("_rn") <= k)
            .select("qid", id_col,
                    F.col("_s").alias(sim_col), F.col("_rn").alias("rank")))


def nsw_knn(df: DataFrame, qvec: Sequence[float], k: int = 10,
            m: int = NSW_M, ef: int = NSW_EF, rounds: int = NSW_ROUNDS,
            seeds: Sequence[int] = NSW_SEEDS,
            vec_col: str = "embedding", id_col: str = "vec_id",
            sim_col: str = "similarity",
            stride: int | None = None,
            n_entry: int = NSW_ENTRY_COUNT,
            stop_k: int | None = NSW_STOP_K) -> DataFrame:
    """Inline build+search (the oracled form; production stores the
    graph once via ``write_nsw_index`` and serves many queries).
    Traversal is SYMMETRIC over the directed top-m build.  With
    ``stride`` = ⌈√n⌉ (``nsw_serving_params``) the whole level stack is
    graph-indexed inline too (``inline_levels``) and entry is the
    hierarchical descent; any other ``stride`` is a flat coarse entry
    at that stride (no levels, ``flat_mod = stride``) — the recursion
    is defined on the √-stack only, and ``nsw_stored_knn`` takes the
    same branch on a stored-meta stride mismatch.  Without ``stride``
    the beam starts from ``seeds``.

    The built adjacency is ``localCheckpoint``-ed ONCE per call (r16,
    guide §5): every beam round filters the edge relation, and an
    unpersisted build plan re-ran the blocked-BLAS pass per round —
    profiling showed the inline slots paying the n²/block build 5-8×
    per serve.  The checkpoint is n·m rows, recomputed from the input
    on every invocation (within-query reuse, not a cross-run cache);
    the build is deterministic (xxhash salting, 6-dp rounds), so the
    materialized bytes equal any replay's."""
    edges = symmetrize_edges(
        build_knn_graph(df, m=m, vec_col=vec_col, id_col=id_col)
    ).localCheckpoint()
    levels, flat_mod = [], stride
    if stride is not None:
        base = df.filter(F.col(vec_col).isNotNull())
        n = base.count()
        if int(stride) == nsw_serving_params(n)[0]:
            levels, flat_mod = inline_levels(base, n, m=m, vec_col=vec_col,
                                             id_col=id_col)
            levels = [(lv.localCheckpoint(), mod) for lv, mod in levels]
    return beam_search_knn(edges, df, qvec, k=k, ef=ef, rounds=rounds,
                           seeds=seeds, vec_col=vec_col, id_col=id_col,
                           sim_col=sim_col, n_entry=n_entry,
                           hier_levels=levels, flat_mod=flat_mod,
                           stop_k=stop_k)


def upsert_nsw_index(spark, path: str, batch: DataFrame,
                     existing: DataFrame, m: int = NSW_M,
                     vec_col: str = "embedding", id_col: str = "vec_id"
                     ) -> None:
    """INSERT a vector batch into a stored neighbor graph WITHOUT a
    rebuild — and, for pure inserts, EXACTLY: node j's true top-m over
    C∪B is a subset of (its stored top-m over C) ∪ B, so adding

    - each new node's top-m edge list over C∪B (one blocked
      batch×corpus BLAS pass — |B|·|C| work, never |C|²), and
    - each EXISTING node's edges to batch nodes that beat its current
      m-th edge under the (sim desc, dst asc) order,

    and resolving per-src top-m AT READ TIME (the merge-on-read window)
    serves the graph a full rebuild would produce — the upsert slot's
    oracle IS the full-rebuild oracle.  Deletes are soft
    (``delete_from_nsw_index``) until recompaction.

    Each hierarchy level gets the same exact insert for its batch
    members.  A level is rebuilt whole only when its stride product
    moves (⌈√n⌉ changes once per ~2√n inserts, so the rebuild amortizes
    to O(√n) per insert).  Every layer's new rows, and any rebuilt
    level, land in ONE segment; the ``_L1_META`` swap that names it
    carries the new geometry too (``stores.write_segment``).  Until the
    swap, readers serve the previous version."""
    from openai_vector_search_demo_spark.stores import write_segment

    ex = (existing.filter(F.col(vec_col).isNotNull())
          .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
    brows = (batch.filter(F.col(vec_col).isNotNull())
             .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
             .collect())
    if not brows:
        return
    bdf = existing.sparkSession.createDataFrame(
        [(int(r.id), list(r.v)) for r in brows],
        "id long, v array<double>")
    meta = read_l1_meta(spark, path) or {}
    buckets = {**meta.get("buckets", {}),
               "": _layer_buckets(path, meta, "")}
    layers = {"": _graph_delta(_layer_rows(spark, path, meta), brows, ex,
                               m, buckets[""], batch_df=bdf)}
    rebuilt = []

    # hierarchy maintenance: recompute the plan from the post-upsert
    # corpus (deterministic — an at-least-once replay sees the same
    # corpus and produces the same bytes), append incrementally where
    # the frozen geometry still matches, rebuild a level only where its
    # stride product moved (or it newly crossed the floor)
    allnodes = ex.unionByName(bdf)
    n = allnodes.count()
    strides, counts = nsw_hier_plan(allnodes, n, id_col="id")
    old_levels = dict(_level_plan(meta.get("strides", []),
                                  meta.get("counts", []))[0])
    geom_ok = True
    for lvl, prod in _level_plan(strides, counts)[0]:
        geom_ok = geom_ok and old_levels.get(lvl) == prod
        level = f"_L{lvl}"
        if geom_ok:
            bsub = [r for r in brows if int(r.id) % prod == 0]
            if bsub:
                layers[level] = _graph_delta(
                    _layer_rows(spark, path, meta, level), bsub,
                    ex.filter(F.pmod(F.col("id"), F.lit(int(prod)))
                              == 0),
                    m, _layer_buckets(path, meta, level))
        else:
            # a rebuilt level is a new layer: bucketed by its new size
            buckets[level] = nsw_buckets(counts[lvl - 1], m)
            sub = allnodes.filter(
                F.pmod(F.col("id"), F.lit(int(prod))) == 0)
            layers[level] = _dual_rows(
                build_knn_graph(sub, m=m, vec_col="v", id_col="id"),
                buckets[level])
            rebuilt.append(level)
    # repartition: each layer's corpus-wide Arrow pass stays parallel
    # under write_segment's coalesce
    write_segment(spark, path, _META,
                  {**meta, **_hier_meta(strides, counts, m, n, buckets)},
                  {k: v.repartition(1) for k, v in layers.items()},
                  rebuilt=rebuilt)


def _layer_rows(spark, path: str, meta: dict, layer: str = ""
                ) -> DataFrame:
    """Every stored row of one graph layer (``""`` the base, ``_L1`` …):
    its base directory plus the segments ``meta`` names for it, read
    with the fixed ``_STORE_SCHEMA``.  The base is ``bucket=`` partition
    directories, which one scan cannot share with plain segment files,
    so it is a scan of its own, unioned with one scan of the segments."""
    from openai_vector_search_demo_spark.stores import (
        layer_paths,
        read_layer,
    )
    base, *segments = layer_paths(path, meta, layer)
    rows = spark.read.schema(_STORE_SCHEMA).parquet(base)
    if segments:
        rows = rows.unionByName(read_layer(spark, segments, _STORE_SCHEMA))
    return rows


def _graph_delta(stored: DataFrame, brows, existing: DataFrame,
                 m: int, nb: int,
                 batch_df: DataFrame | None = None) -> DataFrame:
    """The exact-insert rows for ONE stored graph layer: ``stored`` is
    its current rows, ``brows`` the collected (id, v) batch rows (they
    ride the closure), ``existing`` the (id, v) relation of its
    members, ``nb`` its bucket count.  Returns, in the dual format, the
    new nodes' top-m lists over existing∪batch plus every existing
    node's edges that beat its current m-th; merge-on-read over the
    layer plus these rows equals a full rebuild of it (the
    ``upsert_nsw_index`` proof)."""
    import pandas as pd

    bids = np.array([r.id for r in brows], dtype=np.int64)
    bmat = np.array([list(r.v) for r in brows], dtype=np.float64)
    bn = np.linalg.norm(bmat, axis=1)
    bn[bn == 0] = 1.0
    bunit = bmat / bn[:, None]
    sess = existing.sparkSession
    slack = m + 8

    def cross_sims(pdf_iter):
        """TWO pruned candidate streams per Arrow block, both exact by
        the blocked-top-M threshold argument (boundary ties included):
        kind=0, each NON-batch row's top-(m+8) batch candidates (a
        superset of every batch edge that can enter its resolved
        top-m); kind=1, each batch node's top-(m+8) among THIS block's
        rows (their union over blocks holds its global top-m over C∪B,
        which the per-src window below reduces exactly).  Emission is
        |block|·(m+8) + |B|·(m+8) rows, not the |block|·|B| cross."""
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            nm = np.linalg.norm(mat, axis=1)
            nm[nm == 0] = 1.0
            sims = np.round((mat / nm[:, None]) @ bunit.T, 6)
            self_mask = ids[:, None] == bids[None, :]
            sims_masked = np.where(self_mask, -np.inf, sims)
            out_src, out_dst, out_sim = [], [], []
            # kind=0: per existing row, top-(m+8) batch candidates
            ex_rows = np.nonzero(~np.isin(ids, bids))[0]
            if len(ex_rows) and len(bids):
                sm = sims_masked[ex_rows]
                if sm.shape[1] > slack:
                    th = np.partition(sm, sm.shape[1] - slack, axis=1)[
                        :, sm.shape[1] - slack][:, None]
                    keep = sm >= th
                else:
                    keep = np.isfinite(sm)
                ri, ci = np.nonzero(keep)
                out_src.append(ids[ex_rows][ri])
                out_dst.append(bids[ci])
                out_sim.append(sims[ex_rows][ri, ci])
            # kind=1: per batch column, top-(m+8) rows of this block
            if len(ids) and len(bids):
                sm = sims_masked
                if sm.shape[0] > slack:
                    th = np.partition(sm, sm.shape[0] - slack, axis=0)[
                        sm.shape[0] - slack][None, :]
                    keep = sm >= th
                else:
                    keep = np.isfinite(sm)
                ri, ci = np.nonzero(keep)
                out_src.append(bids[ci])
                out_dst.append(ids[ri])
                out_sim.append(sims[ri, ci])
            if out_src:
                yield pd.DataFrame({
                    "src": np.concatenate(out_src).astype(np.int64),
                    "dst": np.concatenate(out_dst).astype(np.int64),
                    "sim": np.concatenate(out_sim).astype(np.float64)})

    # (existing∪batch) × batch sims — batch rides the closure (broadcast
    # by value); one Arrow pass over the layer, pruned emission
    # (batch_df lets the base-layer caller reuse its already-built
    # batch DataFrame instead of re-serializing brows)
    if batch_df is None:
        batch_df = sess.createDataFrame(
            [(int(r.id), list(r.v)) for r in brows],
            "id long, v array<double>")
    allnodes = existing.unionByName(batch_df)
    cross = allnodes.mapInPandas(cross_sims, "src long, dst long, sim double")

    # new nodes' top-m over C∪B: the kind=1 stream (batch src) unioned
    # over blocks, reduced by the global per-src window
    new_side = cross.filter(id_in("src", bids))
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                          F.col("dst").asc())
    new_edges = (new_side.dropDuplicates(["src", "dst"])
                 .withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") <= m).drop("_rn"))

    # existing nodes' improvements: candidates beating the current m-th
    # edge under (sim desc, dst asc)
    # (src, dst) dedup first: a replayed micro-batch's byte-identical
    # appended rows must not shift the m-th-edge threshold (offline
    # path — the dedup shuffle is fine here, unlike the serving lookup)
    stored = (stored.filter(F.col("fwd"))
              .select("src", "dst", "sim").dropDuplicates(["src", "dst"]))
    worst = (stored.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == m)
             .select("src", F.col("sim").alias("wsim"),
                     F.col("dst").alias("wdst")))
    improvements = (cross.filter(~id_in("src", bids))
                    .join(worst, "src", "left")
                    .filter(F.col("wsim").isNull()
                            | (F.col("sim") > F.col("wsim"))
                            | ((F.col("sim") == F.col("wsim"))
                               & (F.col("dst") < F.col("wdst"))))
                    .select("src", "dst", "sim"))

    # v2: every added out-edge also lands as a fwd=false mirror under
    # the other endpoint's bucket (see write_nsw_index) — mirrors whose
    # canonical edge is later displaced become stale HINTS, which the
    # stored lookup's validation pass filters against the live top-m.
    return _dual_rows(new_edges.unionByName(improvements), nb)


def delete_from_nsw_index(spark, path: str, ids: Sequence[int]) -> None:
    """SOFT-DELETE ids from a stored graph: one tombstone segment named
    in ``_L1_META`` (``stores.write_segment``).  Ghosts stay traversable
    so connectivity survives; they are never returned.  The set is read
    whole at query time, a backlog ``compact_nsw_index`` folds away."""
    from openai_vector_search_demo_spark.stores import write_segment
    write_segment(
        spark, path, _META, read_l1_meta(spark, path),
        {"": spark.createDataFrame([(int(x),) for x in ids],
                                   _TOMBSTONE_SCHEMA)},
        tombstones=True)


def read_nsw_deletes(spark, path: str) -> list[int]:
    """The store's soft-deleted ids, sorted."""
    return _tombstone_ids(spark, path, read_l1_meta(spark, path) or {})


def _tombstone_ids(spark, path: str, meta: dict) -> list[int]:
    """The ids of the tombstone segments ``meta`` names: no read when
    there are none, else one fixed-schema read, deduplicated on the
    driver (a ``distinct`` would add a shuffle job)."""
    from openai_vector_search_demo_spark.stores import read_layer
    paths = [f"{path.rstrip('/')}/{seg['name']}"
             for seg in meta.get("segments", []) if seg.get("tombstones")]
    if not paths:
        return []
    return sorted({r[0] for r in
                   read_layer(spark, paths, _TOMBSTONE_SCHEMA).collect()})


def compact_nsw_index(spark, path: str, source: DataFrame, dest: str,
                      m: int = NSW_M, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> int:
    """Periodic maintenance fold — the graph tier's
    ``compact_ivfpq_index``: REBUILD the graph and its levels from
    ``source`` minus the store's tombstones as a new segment-free base
    at ``dest`` (the caller swaps paths).  Serving returns to the
    fresh-store fast path and soft-deleted ghosts are hard-removed (a
    removed node invalidates its neighbors' top-m lists non-locally,
    which is why deletes are soft until compaction).  Returns the
    number of tombstoned ids folded away."""
    dead = read_nsw_deletes(spark, path)
    live = source.filter(~id_in(id_col, dead)) if dead else source
    write_nsw_index(live, dest, m=m, vec_col=vec_col, id_col=id_col)
    return len(dead)


def _resolved_layer(spark, path: str, meta: dict, m: int,
                    layer: str = "") -> DataFrame:
    """A layer's CURRENT undirected traversal relation, resolved
    globally: the merge-on-read top-``m`` window over its fwd rows
    (dense_rank: replay duplicates share one slot, as in the stored
    lookup's ``_topm_from``), then symmetrized."""
    wm = Window.partitionBy("src").orderBy(F.col("sim").desc(),
                                           F.col("dst").asc())
    return symmetrize_edges(
        _layer_rows(spark, path, meta, layer).filter(F.col("fwd"))
        .withColumn("_rn", F.dense_rank().over(wm))
        .filter(F.col("_rn") <= m).select("src", "dst"))


def resolve_stored_edges(spark, path: str, m: int = NSW_M) -> DataFrame:
    """The store's base graph, resolved (``_resolved_layer``) — for the
    BATCH serving form, one resolve amortized over many queries; the
    single-query path resolves frontier-locally per round instead."""
    return _resolved_layer(spark, path, read_l1_meta(spark, path) or {}, m)


def read_l1_meta(spark, path: str) -> dict | None:
    """The store's manifest ``_L1_META`` (``_hier_meta`` geometry plus
    its segments), or None when the path has none — read through the
    Hadoop FS API so it is visible on any store URI."""
    from openai_vector_search_demo_spark.stores import read_manifest
    return read_manifest(spark, path, _META)


def resolve_stored_levels(spark, path: str, m: int = NSW_M
                          ) -> tuple[list[tuple[DataFrame, int]], int]:
    """(hier_levels, flat_mod) for the BATCH serving form, from the
    store's frozen geometry (``_level_plan``): every stored level's
    (resolved relation, stride product) L1 → Ld (``_resolved_layer``)
    — empty for a flat-entry corpus — and the flat-top modulus."""
    meta = read_l1_meta(spark, path)
    if meta is None:
        raise ValueError(f"{path} has no {_META}: not an NSW store")
    plan, flat_mod = _level_plan(meta["strides"], meta["counts"])
    mm = int(meta.get("m", m))
    return [(_resolved_layer(spark, path, meta, mm, f"_L{lvl}"), prod)
            for lvl, prod in plan], flat_mod


def _stored_adj(spark, path: str, meta: dict, layer: str,
                delta: bool, m: int) -> AdjRelation:
    """Bucket-pruned lookup over ONE stored graph layer (``_layer_rows``),
    bucketed as its manifest records: ``rel(ids)`` is two parsed IN
    lists, the ids' src buckets (partition pruning) and the ids
    themselves (parquet pushdown); ``sub(mod)`` keeps the buckets a
    multiple of ``mod`` can fall in, and ``sub(1)`` is the whole layer.
    The base layer carries the manifest's node count ``n``."""
    import math

    nb = _layer_buckets(path, meta, layer)
    g = _layer_rows(spark, path, meta, layer)

    def rel(ids):
        buckets = sorted({int(i) % nb for i in ids})
        return g.filter(id_in("bucket", buckets) & id_in("src", ids))

    def sub(mod):
        if int(mod) == 1:
            return g
        step = math.gcd(int(mod), nb)
        pred = F.pmod(F.col("src"), F.lit(int(mod))) == 0
        if step > 1:
            pred = id_in("bucket", list(range(0, nb, step))) & pred
        return g.filter(pred)

    return AdjRelation(rel, sub, trusted=not delta, m=m,
                       n=None if layer else meta.get("n"))


def nsw_stored_knn(spark, path: str, source: DataFrame,
                   qvec: Sequence[float], k: int = 10,
                   ef: int = NSW_EF, rounds: int = NSW_ROUNDS,
                   seeds: Sequence[int] = NSW_SEEDS,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   sim_col: str = "similarity", m: int = NSW_M,
                   stride: int | None = None,
                   n_entry: int = NSW_ENTRY_COUNT,
                   stop_k: int | None = NSW_STOP_K) -> DataFrame:
    """Serving read of a ``write_nsw_index`` store: each round touches
    only the frontier's src BUCKET DIRECTORIES (one ``id_in`` list on
    the partition column, a second on the src ids, pushed into the
    scan) and the scored ids' vectors.  One read of ``_L1_META`` names
    the segments, each layer's bucket count and the corpus size ``n``;
    every layer and the tombstones are read with fixed schemas, so the
    jobs of a serve are its entry scan and its beam rounds (plus one
    tombstone read when the manifest names deletes), and the returned
    top-k is a local relation whose ``collect()`` runs none.  A store
    of at most ef·2M nodes (``beam_search_knn``'s whole-store entry)
    is read whole by the entry scan: it collects every row of
    ``source``, the store's corpus, and every layer's rows, and the
    rounds run no job, so the serve is one job (two with
    tombstones).

    MERGE-ON-READ: the per-src top-``m`` window resolves the current
    OUT-list from the base and segment fwd rows — the exact
    full-rebuild list after inserts — as a driver-side selection over
    the round's prefetched rows (``_topm_from``), never a job.
    Traversal is SYMMETRIC: a mirror row (w←x) is kept only if (x→w)
    survives x's own resolved top-m, from the SAME prefetched rows, so
    stale mirrors left by upsert displacement never steer the beam."""
    # a store whose manifest names no graph segment (the common serving
    # case) is TRUSTED: every src has exactly m fwd rows and every
    # mirror is valid — the rows ARE the undirected adjacency
    meta = read_l1_meta(spark, path) or {}
    has_deltas = any("layers" in seg for seg in meta.get("segments", []))
    lookup = _stored_adj(spark, path, meta, "", has_deltas, m)

    # hierarchical entry off the store's own level stack, each level
    # looked up (and resolved) like the base.  Used only when the
    # caller's stride matches the write-time geometry (the serving
    # slots' case); otherwise a flat coarse entry at the caller's
    # stride, since the stored levels index other layers than the one
    # asked for.
    levels, flat_mod = [], stride
    if stride is not None and meta.get("stride") == int(stride):
        plan, flat_mod = _level_plan(meta["strides"], meta["counts"])
        mm = int(meta.get("m", m))
        levels = [(_stored_adj(spark, path, meta, f"_L{lvl}", has_deltas,
                               mm), prod) for lvl, prod in plan]

    return beam_search_knn(lookup, source, qvec, k=k, ef=ef,
                           rounds=rounds, seeds=seeds, vec_col=vec_col,
                           id_col=id_col, sim_col=sim_col,
                           exclude_ids=_tombstone_ids(spark, path, meta),
                           n_entry=n_entry,
                           hier_levels=levels, flat_mod=flat_mod,
                           stop_k=stop_k)
