"""Count the code lines of Python files: lines that hold a token other than
a comment, and that are not part of a docstring.

A line counts when tokenize finds a code token on it (a multi-line string
counts every line it spans); the docstrings of modules, classes and
functions, found with ast, do not count, nor do blank and comment-only
lines.

Usage::

    python scripts/code_lines.py i3dm_export_spark/plans [more paths ...]

prints one ``<code lines>  <path>`` row per file, then the total. A
directory stands for every ``*.py`` file below it.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize

_NOT_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
             tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        first = node.body[0] if node.body else None
        if (isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """The number of code lines in the Python ``source``."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def _py_files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(root, name)


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("paths", nargs="+", help="Python files or directories")
    args = parser.parse_args(argv)
    total = 0
    for path in args.paths:
        for fp in _py_files(path):
            with open(fp, encoding="utf-8") as f:
                n = code_lines(f.read())
            total += n
            print(f"{n:7d}  {fp}")
    print(f"{total:7d}  total")
    return total


if __name__ == "__main__":
    main(sys.argv[1:])
