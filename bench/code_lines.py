"""Count code lines: lines holding a non-comment token, docstrings removed.

A line counts when a token other than a comment, a newline or an
indent/dedent starts, ends or continues on it (a multi-line string
counts every line it spans). Module, class and function docstrings are
dropped first. Only the stdlib (`ast` + `tokenize`) is used, so the
figure is the same on any Python 3.11+ checkout.

Usage:
    python bench/code_lines.py                        # search_engine_spark/**
    python bench/code_lines.py search_engine_spark/operators/query.py ...

Prints one `<count>  <path>` line per file, then `<total>  total`.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def main(argv: list[str]) -> None:
    root = Path(__file__).resolve().parent.parent
    files = [(a, Path(a)) for a in argv] or [
        (str(p.relative_to(root)), p)
        for p in sorted((root / "search_engine_spark").rglob("*.py"))
    ]
    total = 0
    for name, p in files:
        n = code_lines(p.read_text(encoding="utf-8"))
        total += n
        print(f"{n:6d}  {name}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
