#!/usr/bin/env python
"""Print the code-line count of the engine package ``change_data_capture_spark/``.

A code line is a line of a ``.py`` file that is not blank, not a comment
line (first non-blank character ``#``) and not part of a module, class or
function docstring (found with ``ast``). Run from anywhere:

    python tools/code_lines.py            # total
    python tools/code_lines.py --files    # per-file counts, then the total
"""

from __future__ import annotations

import argparse
import ast
import os

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "change_data_capture_spark",
)


def _docstring_lines(tree: ast.Module) -> set[int]:
    """1-based line numbers spanned by every module, class and function
    docstring in ``tree``."""
    lines: set[int] = set()
    nodes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    for node in ast.walk(tree):
        if not isinstance(node, nodes) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        source = f.read()
    docs = _docstring_lines(ast.parse(source))
    return sum(
        1
        for i, line in enumerate(source.splitlines(), start=1)
        if line.strip() and not line.lstrip().startswith("#") and i not in docs
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--files", action="store_true", help="print per-file counts")
    args = ap.parse_args()
    total = 0
    for root, dirs, files in os.walk(_PKG):
        dirs.sort()
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            n = code_lines(path)
            total += n
            if args.files:
                print(f"{n:7,d}  {os.path.relpath(path, os.path.dirname(_PKG))}")
    print(f"{total:,d}")


if __name__ == "__main__":
    main()
