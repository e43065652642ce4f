"""Count the library's independently settable values and print one number.

A settable value is a parameter with a default on a public function or
method (constructors included: ``__init__`` of a public class), or a
distinct ``FILTERZ_*`` environment-variable name. Private names (leading
underscore), private classes and nested functions are not counted: no
caller outside their module can set them.

Usage: python tools/count_settable.py [package_dir]   (default: filterz_spark)
"""

from __future__ import annotations

import ast
import pathlib
import re
import sys

ENV_VAR = re.compile(r"FILTERZ_[A-Z0-9_]+")


def _defaults(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> int:
    a = fn.args
    return len(a.defaults) + sum(d is not None for d in a.kw_defaults)


def _public(name: str) -> bool:
    return not name.startswith("_") or name == "__init__"


def count_defaults(body: list[ast.stmt]) -> int:
    """Defaulted parameters of the public defs and public-class methods in
    ``body``; does not descend into function bodies."""
    n = 0
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            n += _defaults(node) if _public(node.name) else 0
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            n += count_defaults(node.body)
        elif isinstance(node, (ast.If, ast.Try)):
            n += count_defaults(node.body) + count_defaults(node.orelse)
    return n


def count_settable(root: pathlib.Path) -> int:
    n, env = 0, set()
    for f in sorted(root.rglob("*.py")):
        src = f.read_text()
        n += count_defaults(ast.parse(src).body)
        env.update(ENV_VAR.findall(src))
    return n + len(env)


if __name__ == "__main__":
    pkg = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else
                       pathlib.Path(__file__).resolve().parents[1] / "filterz_spark")
    print(count_settable(pkg))
