"""The package's size, as the design aim counts it.

Usage: python tools/package_stats.py [package_dir]

Prints two lines:
  lines:           every line of every ``.py`` file under the package, as
                   ``find <dir> -name '*.py' | xargs cat | wc -l`` counts them
  settable values: every parameter with a default in any function of the
                   package, private and nested functions included (a
                   parameter that no caller sets is a constant)
"""

from __future__ import annotations

import ast
import pathlib
import sys


def _settable(tree: ast.AST) -> int:
    return sum(
        len(f.args.defaults) + sum(d is not None for d in f.args.kw_defaults)
        for f in ast.walk(tree)
        if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
    )


def main(package: str = "schema_fantasy_spark") -> None:
    sources = [p.read_text() for p in sorted(pathlib.Path(package).rglob("*.py"))]
    lines = sum(s.count("\n") for s in sources)
    print(f"lines: {lines}")
    print(f"settable values: {sum(_settable(ast.parse(s)) for s in sources)}")


if __name__ == "__main__":
    main(*sys.argv[1:])
