"""Count code lines per Python file: lines that hold at least one token
other than a comment, and are not part of a module, class or function
docstring. Blank lines, comment-only lines and docstrings do not count; a
statement spread over several lines counts each of its lines.

Usage: python scripts/code_lines.py FILE [FILE ...]
Prints one "<lines>  <file>" row per file, then the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        first = node.body[0] if node.body else None
        if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def main(paths: list[str]) -> None:
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:7d}  {p}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
