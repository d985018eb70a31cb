"""Count the code lines of Python files.

A code line is a line that holds a token other than a comment. Blank
lines, comment-only lines and docstrings (the string statement that
opens a module, class or function body) do not count; every line of
any other string literal does.

Usage: python tools/code_lines.py FILE [FILE ...]

Prints ``<count> <file>`` per file, then ``<total> total``.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by the module, class and function docstrings."""
    out: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(source: str) -> int:
    docs = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(n for n in range(tok.start[0], tok.end[0] + 1) if n not in docs)
    return len(lines)


def main(paths: list[str]) -> None:
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n} {p}")
    print(f"{total} total")


if __name__ == "__main__":
    main(sys.argv[1:])
