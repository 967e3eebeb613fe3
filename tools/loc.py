"""Count code lines: lines that are not blank, not ``#`` comments and not
inside a module, class or function docstring.

    python tools/loc.py PATH...

Each PATH is a ``.py`` file or a directory searched recursively for them.
Prints one ``count  path`` line per file and the total.
"""

from __future__ import annotations

import ast
import os
import sys


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            if ast.get_docstring(node, clean=False) is not None:
                doc = node.body[0]
                lines.update(range(doc.lineno, doc.end_lineno + 1))
    return lines


def count(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        src = f.read()
    doc = _docstring_lines(ast.parse(src))
    return sum(
        1
        for i, line in enumerate(src.splitlines(), 1)
        if i not in doc and line.strip() and not line.strip().startswith("#")
    )


def py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
    )


def main(argv: list[str]) -> int:
    total = 0
    for path in argv:
        for f in py_files(path):
            n = count(f)
            total += n
            print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
