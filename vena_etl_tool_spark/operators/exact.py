"""The scaled-int64 dot product: one contract for Spark, DuckDB and numpy.

Every hash-exact vector query (cosine top-k, LSH sign bits, IVF/PQ
centroid scores, random projections, MaxSim) scores with the same fold:

    dot(x, y) = (Σᵢ floor(xᵢ · yᵢ · 1e12) as int64) / 1e12

Each term is formed in IEEE double, left-associated as ``(x * y) * 1e12``,
floored and cast to int64; the terms are summed as integers; the sum is
cast back to double and divided by 1e12 only when a float is wanted.

Why the result is bit-identical in the JVM, numpy and DuckDB:
- IEEE-754 multiplication is correctly rounded, so every engine forms the
  same double for each term, and ``floor`` of a double is exact.
- Integer addition is associative, so the int64 sum is the same in any
  order, over any partitioning or merge tree — no float merge-order hazard
  and no DECIMAL cost.
- The int64 → double cast and the final ``/ 1e12`` are again single
  correctly-rounded IEEE operations on identical inputs.
- Literal vectors (planes, centroids, codebooks) are written so that each
  engine parses the very same doubles (see ``duck_list``).

The contract holds while every term satisfies |xᵢ · yᵢ · 1e12| < 2^53. Under
that bound each floored term is an integer that double and int64 both hold
exactly, and a sum of up to 1024 terms stays below 2^63. Past it the
engines part ways: numpy's float → int64 cast wraps where the JVM's
saturates. With |x|, |y| ≤ 94 every term is inside the bound.
The numpy kernel checks the bound (NaN/inf included) and raises instead of
changing a hash silently; the SQL folds rely on the same data.

This module is the only place that spells the scale or the term; callers
get Spark Columns, Spark SQL text, DuckDB SQL text or numpy arrays from it.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column

_SCALE = 1e12
_BOUND = 2.0**53
_FOLD_SUM = "CAST(0 AS BIGINT), (acc, v) -> acc + v"


def _term_sql(x: str, y: str) -> str:
    return f"CAST(FLOOR({x} * {y} * 1e12) AS BIGINT)"


def descale(col: Column) -> Column:
    """A scaled int64 sum as the double it stands for."""
    return col.cast("double") / F.lit(_SCALE)


def descale_sql(expr: str) -> str:
    """SQL text (Spark or DuckDB) for ``descale`` of a scaled sum."""
    return f"CAST({expr} AS DOUBLE) / 1e12"


def dot_exact(l: Column, r: Column) -> Column:  # noqa: E741
    """Exact dot product of two float-array Columns, as a double."""
    return descale(
        F.aggregate(
            F.zip_with(
                l, r,
                lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(_SCALE)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    )


def spark_array(vec: Sequence[float]) -> str:
    """Spark SQL literal for a double vector."""
    return "array(" + ", ".join(f"{float(v)!r}D" for v in vec) + ")"


def _duck_double(v: float) -> str:
    # DuckDB reads a plain decimal literal as DECIMAL, and its DECIMAL ->
    # DOUBLE cast is not correctly rounded (about 1 in 9 of repr()'s
    # shortest round-trip strings land one ulp off). An exponent makes the
    # literal a DOUBLE, parsed exactly like Spark's `D` suffix.
    r = repr(float(v))
    return r if "e" in r else r + "e0"


def duck_list(vec: Sequence[float]) -> str:
    """DuckDB SQL literal for a double vector, element for element the
    doubles ``spark_array`` gives the JVM."""
    return "[" + ", ".join(_duck_double(v) for v in vec) + "]"


def spark_dot_sql(arr: str, vec: Sequence[float]) -> str:
    """Spark SQL BIGINT scaled dot of array expression ``arr`` with a
    literal vector (planes, centroids, codebooks, projection rows)."""
    return (
        f"aggregate(zip_with({arr}, {spark_array(vec)},"
        f" (x, p) -> {_term_sql('CAST(x AS DOUBLE)', 'p')}),"
        f" {_FOLD_SUM})"
    )


def spark_sq_sql(arr: str) -> str:
    """Spark SQL BIGINT scaled square sum of array expression ``arr``."""
    x = "CAST(x AS DOUBLE)"
    return f"aggregate(transform({arr}, x -> {_term_sql(x, x)}), {_FOLD_SUM})"


def duck_dot_sql(a: str, b: str | Sequence[float]) -> str:
    """DuckDB BIGINT scaled dot of list expression ``a`` with list
    expression ``b`` or a literal vector. One lambda per row — never a
    correlated subquery per element, which DuckDB plans as a join and
    holds in memory for the whole pair set."""
    if not isinstance(b, str):
        b = duck_list(b)
    term = _term_sql(
        "CAST(struct_extract(p, 1) AS DOUBLE)", "CAST(struct_extract(p, 2) AS DOUBLE)"
    )
    return f"CAST(list_sum(list_transform(list_zip({a}, {b}), p -> {term})) AS BIGINT)"


def duck_sq_sql(a: str) -> str:
    """DuckDB BIGINT scaled square sum of list expression ``a``."""
    x = "CAST(x AS DOUBLE)"
    return f"CAST(list_sum(list_transform({a}, x -> {_term_sql(x, x)})) AS BIGINT)"


def np_dot_scaled(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Scaled int64 dot over the last axis of float64 arrays ``a`` and
    ``b`` (broadcast against each other). Raises ``ValueError`` when a
    term breaks the 2^53 bound or is NaN/inf."""
    terms = np.floor((a * b) * _SCALE)
    if not np.all(np.abs(terms) < _BOUND):
        raise ValueError(
            "dot_exact contract broken: a scaled term has |x*y*1e12| >= 2^53 "
            "(or is NaN/inf); rescale the 1e12 factor for these magnitudes"
        )
    return terms.astype(np.int64).sum(axis=-1)


def np_descale(scaled: np.ndarray) -> np.ndarray:
    return scaled.astype(np.float64) / _SCALE


def np_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``np_dot_scaled`` as doubles: ``dot_exact`` in numpy."""
    return np_descale(np_dot_scaled(a, b))
