"""Quoting for the SQL text the plan builders hand to Spark.

The tier and delta plans are built from SQL strings (``selectExpr``,
``groupBy().agg(F.expr(...))``) rather than Column trees; every column
name or string value interpolated into that text goes through one of
these two functions, so a name with spaces, dots or quotes stays one
identifier and a message stays one literal.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def string(value: str) -> str:
    """``value`` as a single-quoted SQL string literal (Spark SQL
    processes backslash escapes in literals)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
