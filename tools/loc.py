"""Count library code lines: the lines of ``couch_to_postgres_spark/``
that are neither blank, nor comment-only, nor inside a docstring.

Docstring spans come from ``ast`` (the first-statement string of a
module, class or function); comment-only lines from ``tokenize`` (a
line whose only token is a comment). Prints one line per module, then
the total.

Usage:  python tools/loc.py [package_dir]
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def _comment_only_lines(source: str) -> set[int]:
    code: set[int] = set()
    comments: set[int] = set()
    skip = (
        tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
        tokenize.ENDMARKER,
    )
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            comments.add(tok.start[0])
        elif tok.type not in skip:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return comments - code


def code_lines(source: str) -> int:
    skip = _docstring_lines(ast.parse(source)) | _comment_only_lines(source)
    return sum(
        1
        for i, line in enumerate(source.splitlines(), 1)
        if line.strip() and i not in skip
    )


def main(argv: list[str]) -> int:
    pkg = argv[1] if len(argv) > 1 else os.path.join(
        ROOT, "couch_to_postgres_spark"
    )
    total = 0
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                n = code_lines(f.read())
            total += n
            print(f"{n:6d}  {os.path.relpath(path, pkg)}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
