"""Count code lines: lines that are not blank, comments or docstrings.

Usage: python tools/code_lines.py [path ...]
  e.g. python tools/code_lines.py mapreduce_hadoop_spark bench.py

Each path is a .py file or a directory searched recursively for .py
files (default: mapreduce_hadoop_spark and bench.py). Prints one
"<code lines>  <path>" line per file, then the total. A line counts when
any token other than a comment or a docstring sits on it, so every line
of a multi-line SQL string is code, while a module, class or function
docstring is not.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def code_lines(src: str) -> int:
    """Number of lines of ``src`` carrying a token that is not layout,
    a comment, or part of a docstring."""
    doc: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                doc.update(range(first.lineno, first.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _LAYOUT:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return out


def main() -> None:
    paths = sys.argv[1:] or ["mapreduce_hadoop_spark", "bench.py"]
    total = 0
    for path in paths:
        for f in _py_files(path):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
