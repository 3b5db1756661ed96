"""Vector distance kernels as native Spark Column expressions.

Reference parity: ``pkg/distance/native_impl.go:25-52`` defines
euclidean = sqrt(Σ(a-b)²), manhattan = Σ|a-b|, and
cosine = |1 - dot/(|a||b|)|; ``edge/vectorstore.go:173-189`` L2-normalizes
at write/query time for cosine collections so cosine ≡ |1 - dot|; the
user-facing score transform is ``edge/edge_helper.go:143-148``
(cosine → ((2-d)/2)·100, euclidean → max(0, 100-d)).

Spark-first choice: every kernel is a composition of ``zip_with`` /
``aggregate`` / ``transform`` — pure Catalyst expressions that run
JVM-side inside whole-stage codegen, so a KNN scan never leaves the JVM
(the reference needs hand-written AVX asm for the same effect,
``pkg/distance/simd/*``). Math is float64: on a 1000-executor scan the
cost is identical to float32 (both vectorize) and results match a
DuckDB ``::DOUBLE[]`` oracle bit-for-bit because both engines fold the
array left-to-right in element order.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

DISTANCES = ("cosine", "euclidean", "manhattan", "dot")


def lit_double_array(xs: Sequence[float]) -> Column:
    """``array<double>`` literal in ONE py4j round-trip: the element
    list is rendered as a Spark-SQL array literal and parsed JVM-side.
    ``F.array(*[F.lit(x) ...])`` costs one gateway round-trip per
    element — a 64-dim query vector is ~130 calls, and a PQ codebook
    or JL plane set multiplies that by ks/out_dim (measured r13-opt:
    literal marshaling was the dominant cost of constructing every
    KNN/projection query). ``repr`` round-trips doubles exactly and
    the SQL parser is correctly-rounded, so values are BIT-IDENTICAL
    to the per-element form (probed incl. subnormals/scientific)."""
    return F.expr(sql_double_array(xs))


def sql_double(x: float) -> str:
    """One double as Spark-SQL literal text (``repr`` round-trips
    exactly; the parser is correctly rounded). Non-finite values raise
    instead of rendering an unparseable ``infD``/``nanD``."""
    v = float(x)
    if not math.isfinite(v):
        raise ValueError(f"non-finite literal {v!r} in SQL text")
    return repr(v) + "D"


def sql_double_array(xs: Sequence[float]) -> str:
    """The SQL-text form of :func:`lit_double_array` — for callers
    composing larger single-parse expressions."""
    return "array(" + ",".join(sql_double(x) for x in xs) + ")"


def dot_fold_sql(a_sql: str, b_sql: str) -> str:
    """SQL-text twin of :func:`dot` (same zip_with/aggregate left
    fold, so values are bit-identical) — one parser call instead of
    per-operator py4j round-trips when both operands are expressible
    as SQL fragments."""
    return (
        f"aggregate(zip_with(CAST({a_sql} AS ARRAY<DOUBLE>), "
        f"CAST({b_sql} AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def lit_long_array(xs: Sequence[int]) -> Column:
    """``array<bigint>`` literal in one py4j round-trip (see
    :func:`lit_double_array`)."""
    return F.expr("array(" + ",".join(f"{int(x)}L" for x in xs) + ")")


def _as_double_array(v: Column | Sequence[float] | str) -> Column:
    """Accept a column (by name or Column) or a Python literal vector."""
    if isinstance(v, str):
        v = F.col(v)
    if isinstance(v, Column):
        return v.cast("array<double>")
    return lit_double_array(v).cast("array<double>")


def dot(a, b) -> Column:
    """Σ aᵢ·bᵢ — sequential left fold, matches DuckDB list_dot_product
    on DOUBLE[] operands."""
    a, b = _as_double_array(a), _as_double_array(b)
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a) -> Column:
    a = _as_double_array(a)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def l2_normalize(a) -> Column:
    """Unit-normalize; zero vectors pass through unchanged (guards the
    divide like the reference's magnitude check)."""
    a = _as_double_array(a)
    n = l2_norm(a)
    return F.when(n == 0.0, a).otherwise(F.transform(a, lambda x: x / n))


def euclidean_distance(a, b) -> Column:
    a, b = _as_double_array(a), _as_double_array(b)
    return F.sqrt(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x)
    )


def manhattan_distance(a, b) -> Column:
    a, b = _as_double_array(a), _as_double_array(b)
    return F.aggregate(F.zip_with(a, b, lambda x, y: F.abs(x - y)), F.lit(0.0), lambda acc, x: acc + x)


def cosine_distance(a, b) -> Column:
    """|1 - dot/(|a||b|)| per the reference. Works on un-normalized
    inputs; when both sides are pre-normalized this reduces to |1-dot|
    (use :func:`dot` directly on the normalized column for that fast
    path — one array pass instead of three)."""
    a, b = _as_double_array(a), _as_double_array(b)
    return F.abs(F.lit(1.0) - dot(a, b) / (l2_norm(a) * l2_norm(b)))


def vector_distance(distance: str, a, b) -> Column:
    """Dispatch by distance name (collection manifest value).

    ``cosine_unit`` is the normalize-at-write contract: both operands
    are already unit vectors (the collection normalizes stored rows
    and the caller normalizes the query), so the distance is
    ``|1 - dot|`` with NO re-normalization — the same value every
    oracle replays, and the same answer for quantized rows whose
    stored norm drifted off 1 by the quantization error."""
    if distance == "cosine_unit":
        a, b = _as_double_array(a), _as_double_array(b)
        return F.abs(F.lit(1.0) - dot(a, b))
    if distance == "cosine":
        return cosine_distance(a, b)
    if distance == "euclidean":
        return euclidean_distance(a, b)
    if distance == "manhattan":
        return manhattan_distance(a, b)
    if distance == "dot":
        return -dot(a, b)  # lower-is-better convention
    raise ValueError(f"unknown distance {distance!r}; expected one of {DISTANCES}")


def score(distance: str, dist: Column) -> Column:
    """0-100 user-facing score (``edge/edge_helper.go:143-148``)."""
    if distance == "cosine":
        return (F.lit(2.0) - dist) / F.lit(2.0) * F.lit(100.0)
    return F.greatest(F.lit(0.0), F.lit(100.0) - dist)
