"""Count the lines of code of the package and its tests.

A line counts when it holds part of a Python token other than a comment or
a line break, and is not part of a docstring (the first statement of a
module, class or function, when it is a string literal). Blank lines,
comment-only lines and docstrings are not counted; a multi-line string that
is not a docstring counts every line it spans.

    python scripts/loc.py                 # counts under the repo root
    python scripts/loc.py --root <dir>    # counts under another checkout

Prints one line per directory and the total.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import tokenize

DIRS = ("radar_output_restructure_spark", "tests")
_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


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


def count_file(path: str) -> int:
    with open(path, "rb") as fh:
        src = fh.read()
    code: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(src)))


def count_dir(root: str) -> int:
    total = 0
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        total += sum(
            count_file(os.path.join(dirpath, f))
            for f in files
            if f.endswith(".py")
        )
    return total


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--root",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    args = ap.parse_args()
    total = 0
    for d in DIRS:
        n = count_dir(os.path.join(args.root, d))
        total += n
        print(f"{d}/ {n}")
    print(f"total {total}")


if __name__ == "__main__":
    main()
