"""Vector column functions over ``array<float|double>`` embeddings.

All JVM-side Catalyst higher-order functions (``zip_with`` /
``aggregate``) — the embedding hot path never crosses into Python. Inputs
are cast to double first so results are bit-compatible with a
double-precision SQL oracle.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, functions as F

from .sql import sql_ident

__all__ = [
    "as_double",
    "dot",
    "l2_norm",
    "cosine_similarity",
    "sql_double_array",
    "sql_as_double",
    "sql_dot",
]


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a, b) in double precision (oracle:
    ``list_cosine_similarity(CAST(a AS DOUBLE[]), CAST(b AS DOUBLE[]))``)."""
    a = as_double(a)
    b = as_double(b)
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# --- SQL-text forms: ~300× cheaper to build than the Column API form,
# with bit-identical values (see functions/sql.py). ``repr(float)`` is the
# shortest round-trip decimal, so a parsed double equals the Python one.


def sql_double_array(xs: Iterable[float]) -> str:
    """Inline a Python float list as a Spark SQL double array literal."""
    return "array(" + ", ".join(repr(float(x)) + "D" for x in xs) + ")"


def sql_as_double(col_name: str) -> str:
    """SQL text of :func:`as_double` over a named array column."""
    return f"transform({sql_ident(col_name)}, v -> CAST(v AS DOUBLE))"


def sql_dot(a_sql: str, b_sql: str) -> str:
    """SQL text of :func:`dot` — the identical sequential left-to-right
    aggregate, so values match the Column-API form to the last ulp."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )
