"""A caller's column name as a Spark reference.

The engine maps each JSON property to the column of the same name, and a
property name may be any string. Spark reads an unquoted name as an
identifier path: ``c.d`` is the field ``d`` of a struct ``c``, and ``a b``
does not parse in SQL text. So every name a caller gives reaches Spark
through here, backquoted, with a backquote inside it doubled.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def quoted(name: str) -> str:
    """``name`` as a backquoted SQL identifier, for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def column(name: str) -> Column:
    """The column ``name``, whatever characters it holds."""
    return F.col(quoted(name))
