"""SQL text for the per-row rules the engine builds every epoch.

A ``Column`` tree pays one py4j round trip per node and per literal
(``F.col``, ``F.lit`` and every operator are JVM calls; a Python list
argument crosses as one ``ArrayList.add`` per element). The same rule
as SQL text is one string, parsed JVM-side in one call. Every rule in
the apply path is built here as text and applied by one ``F.expr`` /
``selectExpr`` / ``filter`` per projection (``session.select_sql``).
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import types as T


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier — the one quoting rule."""
    return "`" + name.replace("`", "``") + "`"


def literal(v: Any) -> str:
    """A Python scalar as a SQL literal (strings escaped for the default,
    backslash-escaping string parser)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def in_list(expr: str, values: Iterable[Any]) -> str:
    """``expr IN (v, ...)``; ``false`` for no values."""
    vals = ", ".join(literal(v) for v in values)
    return f"({expr} IN ({vals}))" if vals else "false"


def sql_type(dt: T.DataType) -> str:
    """``dt`` in SQL type syntax (the target of a ``CAST``)."""
    if isinstance(dt, T.StructType):
        return "STRUCT<" + ", ".join(f"{ident(f.name)}: {sql_type(f.dataType)}" for f in dt.fields) + ">"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()


def cast(expr: str, dt: T.DataType) -> str:
    return f"CAST({expr} AS {sql_type(dt)})"
