"""Count the code-only lines of a Python package.

A line counts when it holds part of a token other than a comment, and
is not part of a docstring (the string statement that opens a module,
class or function).  Blank lines, comment-only lines and docstring lines
are therefore left out; a string literal spanning several lines counts
each of its lines.

Usage: python scripts/code_lines.py [DIR]   (default: parquetjs_spark/)
Prints ONE JSON line: {"dir": ..., "total": N, "files": {path: N, ...}}
with paths relative to DIR, sorted.
"""

from __future__ import annotations

import ast
import io
import json
import os
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
    tokenize.ENCODING, tokenize.ENDMARKER,
}
_DOCUMENTED = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, _DOCUMENTED) and ast.get_docstring(node, clean=False) is not None:
            lines.update(range(node.body[0].lineno, node.body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def main(argv: list[str]) -> int:
    root = argv[1] if len(argv) > 1 else "parquetjs_spark/"
    files = {}
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".py"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8") as f:
                    files[os.path.relpath(path, root)] = code_lines(f.read())
    files = dict(sorted(files.items()))
    print(json.dumps({"dir": root, "total": sum(files.values()), "files": files}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
