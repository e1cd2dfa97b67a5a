"""Vector math over ``array<float|double>`` columns, as pure SQL
expressions (no UDF — stays inside whole-stage codegen).

The reference's similarity space is 384-d cosine
(``streamlit_app.py:49``). Cosine over arrays is a left-fold dot
product; all arithmetic is done in DOUBLE with a sequential
left-to-right fold so results are bit-identical to the DuckDB oracle's
``list_dot_product(a::DOUBLE[], b::DOUBLE[])``.

Two cosines: :func:`cosine` for two array columns (three folds per
row), and :func:`cosine_to` for a column against one constant query
vector. The latter folds the query's norm once on the driver and folds
each row twice (dot with the query literal, own squared norm), with
the literal referenced once; its scores are bit-identical to
``cosine(a, query_vector_lit(q))`` (same folds, same IEEE ops, same
factor order — pinned in tests/test_vector.py).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold dot product in double precision."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """cos(a, b) = a·b / (‖a‖‖b‖).

    try_divide, not ``/`` (r14 review wave 8): Spark 4 runs ANSI by
    default in BOTH the engine session and the driver's vanilla one,
    so a single zero-norm vector (an empty doc through a mean-pooled
    encoder) turned every cosine query into a DIVIDE_BY_ZERO crash.
    try_divide yields NULL on a zero denominator — exactly DuckDB's
    ``/`` contract, so the oracle twin agrees — and NULL scores sort
    LAST under both engines' descending defaults, so a degenerate
    vector ranks below every real one instead of killing the query.
    For non-zero denominators the division is the identical IEEE op.
    Pin: tests/test_vector.py::test_cosine_zero_vector_is_null_not_error.
    """
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def _double_lit(x: float) -> str:
    """SQL literal for one double: ``repr`` is the shortest decimal
    that parses back to the same double; NaN and +-inf have no literal
    syntax, so they go through a string cast ('nan', 'inf', '-inf')."""
    return repr(x) + "D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def _array_lit(vec: Sequence[float]) -> str:
    return f"array({', '.join(_double_lit(float(x)) for x in vec)})"


def query_vector_lit(vec: Sequence[float]) -> Column:
    """A query vector as a literal array<double> (constant-folded),
    parsed from one SQL expression: one py4j call however wide the
    vector, where one ``F.lit`` per element cost ~80 ms at 384-d."""
    return F.expr(_array_lit(vec))


def cosine_to(a: str, q: Sequence[float]) -> Column:
    """cos(a, q) of the array column named ``a`` against one constant
    query vector ``q``: bit-identical to
    ``cosine(a, query_vector_lit(q))`` at one fold fewer per row.

    ‖q‖ is folded once here, on the driver: the same sequential left
    fold ``0.0 + q0*q0 + q1*q1 + ...`` in IEEE doubles, then
    ``math.sqrt`` (correctly rounded, like the JVM's). Per row, the dot
    with the literal (referenced once, so the plan analyses one copy)
    and the row's squared norm, folded straight over ``a`` instead of
    over ``zip_with(a, a)``: the same products added in the same order.
    The denominator keeps :func:`cosine`'s factor order,
    ``sqrt(a·a) * ‖q‖``, and its ``try_divide`` (NULL on a zero
    vector or a zero query). The whole expression is parsed from one
    SQL string: built from Column calls it cost ~25 ms of py4j round
    trips per query, as much as the rest of the query's planning."""
    q = [float(x) for x in q]
    qq = 0.0
    for x in q:
        qq += x * x
    col = "`" + a.replace("`", "``") + "`"
    ab = f"aggregate(zip_with({col}, {_array_lit(q)}, (x, y) -> double(x) * double(y)), 0D, (s, p) -> s + p)"
    aa = f"aggregate({col}, 0D, (s, x) -> s + double(x) * double(x))"
    return F.expr(f"try_divide({ab}, sqrt({aa}) * {_double_lit(math.sqrt(qq))})")


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize an array column (double components).

    On the unit sphere ‖a−b‖² = 2−2·cos(a,b), so Euclidean-LSH bucket
    order is cosine order — this is the precondition for the ANN path
    (SURVEY.md §2.4 Q3).

    The zero vector maps to the zero vector (r12 review): under ANSI
    (the Spark 4 default in both session shapes) an unguarded x/0.0
    here is a query-killing DIVIDE_BY_ZERO, and under non-ANSI it is
    NULL — an all-NULL array that poisons every downstream dot/LSH
    hash. DuckDB 1.0.0's float x/0.0 yields NULL (the try_divide
    contract; see cosine above — measured r14, not inf as this
    docstring once claimed), so without the guard the oracle twin
    would carry NULL components too. A zero embedding is a real
    upstream failure mode (an empty doc through a mean-pooled
    encoder); keeping it at zero makes cosine against it NULL-free
    and deterministic in both engines.
    """
    a = F.col(a) if isinstance(a, str) else a
    # The squared norm is folded ONCE per row and bound as the finish
    # lambda's variable (r15 review wave 11 — the library function
    # itself carried the round's CollapseProject lesson: referencing
    # the norm aggregate inside the transform lambda re-evaluates the
    # O(dim) fold per ELEMENT, twice — O(2*dim^2)/row. A lambda
    # VARIABLE is the one binding the optimizer cannot inline away;
    # same shape as the embedder's finish-lambda normalize). The fold
    # is the identical zip_with + left fold as dot(a, a), so sq — and
    # every downstream component — is bit-identical to the old form.
    return F.aggregate(
        F.zip_with(a, a, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
        lambda sq: F.transform(
            a,
            lambda x: F.when(F.sqrt(sq) == 0.0, F.lit(0.0)).otherwise(
                x.cast("double") / F.sqrt(sq)
            ),
        ),
    )


def int8_quantize(vec: Column | str, scale: Column) -> Column:
    """Symmetric per-vector int8 quantization: round(x/scale) clamped
    to [-127, 127]. Pure SQL (HALF_UP round matches DuckDB's
    half-away-from-zero on doubles); at 100 TB this is the 4x storage
    cut on the embedding column, and scoring against int8 codes is the
    standard serving trick the reconstruction-error query gates."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        vec,
        lambda x: F.least(
            F.greatest(F.round(x.cast("double") / scale), F.lit(-127.0)),
            F.lit(127.0),
        ).cast("int"),
    )


def int8_reconstruct(q: Column | str, scale: Column) -> Column:
    """Dequantize int8 codes back to doubles."""
    q = F.col(q) if isinstance(q, str) else q
    return F.transform(q, lambda i: i.cast("double") * scale)
