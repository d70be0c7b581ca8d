"""Structured validation errors + reference-parity rendering.

Mirrors the reference's ``Err`` sum type and its ``toString``
(reference src/err.js:15-63): Single / Compound / Values, rendered
with the value-path joined by '/' and empty components compacted away.
The reference's fourth case, Type, renders as a Values error; the
kernel emits type errors as Values directly.

The Spark-side contract (SURVEY.md §1.4) flattens this to an
``array<struct>`` column::

    errors: array<struct<path:  array<string>,
                         keyword: string,
                         message: string,
                         expected: string,
                         actual: string,
                         depth: int>>      -- 0 = top-level, >0 = compound child
    verdict = (size(errors) == 0)

Compound nesting is preserved by *flattening with depth*: a compound
error contributes its own entry (depth d) followed by its children
(depth d+1, distinguished by their own deeper/sibling paths), because
Spark struct types cannot be recursive.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import types as T

#: Spark schema of one flattened error entry.
ERROR_STRUCT = T.StructType([
    T.StructField("path", T.ArrayType(T.StringType(), containsNull=False), nullable=False),
    T.StructField("keyword", T.StringType(), nullable=False),
    T.StructField("message", T.StringType(), nullable=False),
    T.StructField("expected", T.StringType(), nullable=True),
    T.StructField("actual", T.StringType(), nullable=True),
    T.StructField("depth", T.IntegerType(), nullable=False),
])

#: Spark schema of the ``errors`` column.
ERRORS_SCHEMA = T.ArrayType(ERROR_STRUCT, containsNull=False)

# Err kinds (mirror of the reference's union cases, src/err.js:15-20)
SINGLE = "single"
COMPOUND = "compound"
VALUES = "values"


@dataclass
class Err:
    """One validation error with its value-path context.

    ``vpath`` elements are strings or ints (array indices); rendering and
    the Spark struct stringify them.
    """

    kind: str
    keyword: str
    message: str
    vpath: tuple = ()
    expected: Optional[str] = None
    actual: Optional[str] = None
    children: list = field(default_factory=list)

    def flatten(self, depth: int = 0):
        """Yield (err, depth) for self and nested children, pre-order."""
        yield self, depth
        for child in self.children:
            yield from child.flatten(depth + 1)

    def to_row(self, depth: int = 0) -> dict:
        return {
            "path": [str(p) for p in self.vpath],
            "keyword": self.keyword,
            "message": self.message,
            "expected": self.expected,
            "actual": self.actual,
            "depth": depth,
        }


def human_list(last: str, items: Sequence[str]) -> str:
    """'a, b and c' list rendering (reference src/humanlist.js:3-9)."""
    items = list(items)
    if len(items) < 2:
        return "".join(items)
    return f"{', '.join(items[:-1])} {last} {items[-1]}"


def _compact_join(parts: Sequence[str], sep: str) -> str:
    return sep.join(p for p in parts if p)


def render_error(err: Err) -> str:
    """Render one Err to the reference's exact string format.

    Parity target: reference src/err.js:22-63 —
    Single   -> "<vpath>: <msg>"
    Compound -> "<vpath>: <msg>: N error(s) found\\n<child>\\n<child>..."
    Values   -> "<vpath>: <msg>: expected <exp>, was <act>"
    with empty components compacted out of the ':'-join.
    """
    pathstr = "/".join(str(p) for p in err.vpath)
    if err.kind == SINGLE:
        return _compact_join([pathstr, err.message], ": ")
    if err.kind == COMPOUND:
        n = len(err.children)
        countstr = f"{n} {'error' if n == 1 else 'errors'} found"
        head = _compact_join([pathstr, err.message, countstr], ": ")
        msgs = "\n".join(render_error(c) for c in err.children)
        return f"{head}\n{msgs}"
    if err.kind == VALUES:
        return _compact_join(
            [pathstr, err.message, f"expected {err.expected}, was {err.actual}"], ": "
        )
    raise ValueError(f"unknown err kind: {err.kind}")


def errs_to_rows(errs: Sequence[Err]) -> list:
    """Flatten a list of Errs (with compound children) into struct rows."""
    rows = []
    for e in errs:
        for err, depth in e.flatten():
            rows.append(err.to_row(depth))
    return rows
