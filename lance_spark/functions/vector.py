"""Vector distance expressions over array<float|double> columns.

JVM-side higher-order-function arithmetic (zip_with + aggregate) — stays in
whole-stage codegen, no Python boundary. Mirrors the reference distance
kernels l2/cosine/dot/hamming (rust/lance-linalg/src/distance.rs:36-70).

These expressions are the exact-semantics reference that brute-force KNN
and the oracle-checked queries run. The index paths score in numpy
(indexes/vector.py ``_prep``/``_score``/``_finalize_distance``) and
follow the same rules: a NULL here is a NaN there, ranked last.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_sim(a, b) -> Column:
    # try_divide: a zero-norm vector yields NULL (ranked last by callers'
    # NULLS LAST orderings) instead of throwing DIVIDE_BY_ZERO under
    # Spark's default ANSI mode and killing the whole query
    return F.try_divide(dot_product(a, b), _norm(a) * _norm(b))


def l2_distance(a, b) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def hamming_distance(a, b) -> Column:
    """Hamming distance over integer code arrays (distance.rs:36-42
    Hamming): Σ popcount(aᵢ XOR bᵢ). Works for bit-packed uint8 codes and
    degenerates to positions-differing for 0/1 arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def distance_expr(v, q, metric: str) -> Column:
    """Metric → distance Column over two array columns, with the
    metric-appropriate cast applied to BOTH sides (``array<long>`` for
    hamming — routing integer codes through a double cast silently
    corrupts values above 2^53 — ``array<double>`` otherwise). ONE
    dispatch shared by knn_batch and knn_bruteforce: the two
    hand-maintained copies had already drifted on exactly that hamming
    cast (r12 review fix)."""
    t = "array<long>" if metric == "hamming" else "array<double>"
    v = v.cast(t)
    q = q.cast(t)
    if metric == "l2":
        return l2_distance(v, q)
    if metric == "dot":
        return -dot_product(v, q)
    if metric == "hamming":
        return hamming_distance(v, q).cast("double")
    return 1.0 - cosine_sim(v, q)
