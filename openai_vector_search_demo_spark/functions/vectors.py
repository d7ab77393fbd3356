"""Vector column functions (SURVEY.md §4.3 — the one real physical decision).

The reference stores fp32 vectors and lets Redis compute cosine distance
server-side (modules/utilities.py:274-276,394).  Spark has no native cosine;
this module provides it three ways, all behind one name:

1. ``cosine_similarity`` — pure higher-order-function SQL.  Catalyst codegens
   it; it is the oracle-checkable default and the only form DuckDB can mirror
   exactly.
2. The numpy fast path lives in ``operators.knn`` (mapInPandas, one BLAS
   matmul per Arrow batch) — the 100 TB path for dim ≥ 1024.
3. ``l2_normalize`` — storage-layout optimization: persist unit vectors so
   cosine degrades to a dot product at query time (what Redis effectively
   does; cosine distance = 1 − cosθ, similarity recovered as 1 − distance,
   modules/utilities.py:394).

All arithmetic is in float64 regardless of the fp32 storage type — matching
both Redis (accumulates in float) and DuckDB's list_cosine_similarity (casts
to double), and keeping the oracle hash stable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def vector_lit(vec: Sequence[float]) -> Column:
    """A literal array<double> column from a Python vector (broadcast by value
    into the plan — the 'broadcast the query vector' half of the KNN join).

    Deliberately ``F.array`` of per-element ``F.lit``s, NOT one
    ``F.lit(list)`` array literal (r16 declined A/B): the flat array
    literal looks cheaper to plan, but CreateArray-of-foldable-literals
    is what lets Catalyst CONSTANT-FOLD the query-side norm inside
    ``cosine_similarity`` — with a single Literal the fold stopped
    firing and every scored row re-reduced the 64-dim norm (stored-knn
    task time measured 2× worse: 6.4 → 10.6 s same-session)."""
    return F.array(*[F.lit(float(x)) for x in vec])


def id_in(col: str, ids: Sequence[int]) -> Column:
    """``col IN (ids)`` over integer ids as ONE parsed SQL expression —
    the point-read predicate of the graph tier's beam rounds.

    ``Column.isin`` pays one ``F.lit`` plus one list-converter ``add``
    per id in driver↔JVM round trips (thousands per beam round at the
    serving width); the SQL text is one ``expr`` call at any list length
    and parses to the same ``In`` of integer literals (int for ids that fit
    32 bits, bigint above), which the optimizer turns into ``InSet``
    and pushes into parquet scans and partition pruning exactly like
    ``isin``.  An empty list is ``false`` — it matches no row, as
    ``isin([])`` does."""
    if len(ids) == 0:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(str(int(i)) for i in ids)})")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Sequential left-to-right float64 accumulation — same association order
    as numpy's pairwise only at tiny dims, but identical to DuckDB's
    list-aggregate order, which is what the oracle compares against."""
    pa, pb = _as_double(_col(a)), _as_double(_col(b))
    return F.aggregate(F.zip_with(pa, pb, lambda x, y: x * y),
                       F.lit(0.0), lambda s, x: s + x)


def l2_norm(v: Column | str) -> Column:
    pv = _as_double(_col(v))
    return F.sqrt(F.aggregate(pv, F.lit(0.0), lambda s, x: s + x * x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cosθ = a·b / (‖a‖‖b‖); similarity as the reference reports it
    (1 − cosine_distance, modules/utilities.py:394).

    Zero-norm guard: 0/0 would be NaN, and Spark ranks NaN ABOVE every
    double in a descending sort — an all-zero vector would silently win
    any KNN.  A zero vector has no direction; its similarity is 0 (same
    convention as the guarded numpy path in operators.knn)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot_product(a, b) / denom).otherwise(F.lit(0.0))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """What Redis returns before the reference flips it (P7)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def to_float32(v: Column | str) -> Column:
    """P10 — fp32 precision contract (modules/utilities.py:301,377): all
    stored vectors are float32.  Halves shuffle width vs float64 at 100 TB."""
    return F.transform(_col(v), lambda x: x.cast("float"))


def l2_normalize(v: Column | str, dtype: str = "float") -> Column:
    """Unit-normalize at write time so query-time cosine is a dot product.

    Zero vectors normalize to NULL, not a division error: Spark 4 runs ANSI
    mode by default, where x/0 throws DIVIDE_BY_ZERO and would kill the
    whole job over one degenerate row.  Callers filter ``isNotNull()`` —
    the same row-drop the oracle expresses as ``WHERE nrm > 0``."""
    c = _col(v)
    n = l2_norm(c)
    return F.when(n != 0,
                  F.transform(c, lambda x: (x.cast("double") / n).cast(dtype)))


# ---------------------------------------------------------------------------
# int8 quantization — the 100 TB storage/shuffle lever
# ---------------------------------------------------------------------------

def quantize_int8(v: Column | str) -> Column:
    """Symmetric per-vector int8 quantization:
    ``struct(scale float, codes array<tinyint>)`` with
    ``scale = max(|x|)/127`` and ``codes = floor(x/scale + 0.5)``.

    4× smaller than fp32 at rest AND in every shuffle that moves the
    vector; cosine degrades ~0.1% at typical embedding distributions (the
    recall property test pins it).  ``floor(x+0.5)`` instead of round():
    engines disagree on round()'s half-rule (Spark HALF_UP, bround
    HALF_EVEN, DuckDB away-from-zero) — an explicit floor is deterministic
    and bit-reproducible in the DuckDB oracle.  Zero vectors get scale 0
    and all-zero codes (dequantize restores exact zeros).
    """
    x = _as_double(_col(v))
    scale = F.aggregate(x, F.lit(0.0),
                        lambda acc, e: F.greatest(acc, F.abs(e))) / F.lit(127.0)
    codes = F.when(
        scale == 0.0,
        F.transform(x, lambda e: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.transform(x, lambda e: F.floor(e / scale + F.lit(0.5))
                    .cast("tinyint")))
    return F.struct(scale.cast("float").alias("scale"),
                    codes.alias("codes"))


def dequantize_int8(q: Column | str) -> Column:
    """Inverse of :func:`quantize_int8` → ``array<float>`` (lossy)."""
    q = _col(q)
    scale = q.getField("scale").cast("double")
    return F.transform(q.getField("codes"),
                       lambda c: (c.cast("double") * scale).cast("float"))
