"""Quoting for expressions built as Spark SQL text: a wide, literal-heavy
expression costs several py4j round trips per node through the Column
API and one as text parsed by ``F.expr``/``selectExpr``, with the same
tree. All SQL text quotes names and values through these two functions.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import types as T

__all__ = ["sql_ident", "sql_literal"]


def sql_ident(name: str) -> str:
    """``name`` as a back-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(value: Any, dtype) -> str:
    """``value`` as a Spark SQL literal of column type ``dtype``; a
    value collected from such a column round-trips exactly."""
    if value is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(dtype, T.IntegerType):
        return str(int(value))
    if isinstance(dtype, T.StringType):
        text = str(value).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{text}'"
    if isinstance(dtype, T.TimestampType):
        # collected naive datetimes are in the Python process's zone;
        # toInternal is the exact inverse of that conversion
        return f"timestamp_micros({dtype.toInternal(value)})"
    text = repr(value) if isinstance(value, float) else str(value)
    return f"CAST('{text}' AS {dtype.simpleString()})"
