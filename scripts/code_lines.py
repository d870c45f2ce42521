"""Count the code-only lines of a Python package.

A line counts when it holds part of a token other than a comment, and
is not part of a docstring (the string statement that opens a module,
class or function).  Blank lines, comment-only lines and docstring lines
are therefore left out; a string literal spanning several lines counts
each of its lines.

It also counts each file's knobs: the parameters with a default value
of its public top-level functions (names not starting with '_'),
keyword-only ones included.

Usage: python scripts/code_lines.py [DIR]   (default: parquetjs_spark/)
Prints ONE JSON line: {"dir": ..., "total": N, "files": {path: N, ...},
"knobs": {path: N, ...}} with paths relative to DIR, sorted.
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


def knobs(source: str) -> int:
    """Defaulted parameters of the public top-level functions."""
    n = 0
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_"):
            n += len(node.args.defaults) + sum(d is not None for d in node.args.kw_defaults)
    return n


def main(argv: list[str]) -> int:
    root = argv[1] if len(argv) > 1 else "parquetjs_spark/"
    files, knob_counts = {}, {}
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".py"):
                path = os.path.join(d, name)
                with open(path, encoding="utf-8") as f:
                    source = f.read()
                rel = os.path.relpath(path, root)
                files[rel], knob_counts[rel] = code_lines(source), knobs(source)
    files = dict(sorted(files.items()))
    knob_counts = dict(sorted(knob_counts.items()))
    print(json.dumps({"dir": root, "total": sum(files.values()), "files": files, "knobs": knob_counts}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
