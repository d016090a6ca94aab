"""Count code lines in python files: lines that carry a token other
than a comment, and that are not part of a docstring. Blank lines and
comment-only lines are left out.

Usage:
    python scripts/loc.py [FILES...]      # default: src/glcmstream/*.py

Prints `<lines> <file>` per file and, for more than one file, a total.
A file argument of the form `REV:PATH` is read with `git show`, so a
count at another commit needs no checkout:

    python scripts/loc.py fc10b17~1:src/glcmstream/state.py
"""

from __future__ import annotations

import ast
import glob
import io
import os
import subprocess
import sys
import tokenize

_NON_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
             tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
             tokenize.ENCODING}
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of code lines in python `source`."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def _read(arg: str) -> str:
    if ":" in arg and not os.path.exists(arg):
        return subprocess.run(["git", "-C", _REPO, "show", arg],
                              check=True, capture_output=True,
                              text=True).stdout
    with open(arg) as f:
        return f.read()


def main(argv: list[str]) -> None:
    files = argv or sorted(os.path.relpath(p) for p in glob.glob(
        os.path.join(_REPO, "src", "glcmstream", "*.py")))
    total = 0
    for arg in files:
        n = code_lines(_read(arg))
        total += n
        print(f"{n} {arg}")
    if len(files) > 1:
        print(f"{total} total")


if __name__ == "__main__":
    main(sys.argv[1:])
