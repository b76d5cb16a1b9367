#!/usr/bin/env python
"""Count Python code lines: lines that are not blank, not ``#``
comments and not docstrings.

    python tools/loc.py esdb_spark/streaming/__init__.py esdb_spark/

A directory argument counts every ``*.py`` file below it. Prints one
``<count>  <path>`` line per argument and, for more than one argument,
a total. A docstring is a string-constant expression statement that
opens a module, class or function body; every line it spans is
excluded, the lines of other string literals count as code.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize


def _docstring_lines(tree: ast.AST) -> set[int]:
    out: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def count_file(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        source = f.read()
    skip = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
                        tokenize.INDENT, tokenize.DEDENT,
                        tokenize.ENDMARKER):
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - skip)


def count_path(path: str) -> int:
    if not os.path.isdir(path):
        return count_file(path)
    total = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        total += sum(count_file(os.path.join(root, n))
                     for n in sorted(names) if n.endswith(".py"))
    return total


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    counts = [(count_path(p), p) for p in argv]
    for n, p in counts:
        print(f"{n:7d}  {p}")
    if len(counts) > 1:
        print(f"{sum(n for n, _ in counts):7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
