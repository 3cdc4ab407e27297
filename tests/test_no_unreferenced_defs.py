"""Dead-code guard: every top-level function and class in the package is
referenced somewhere in the repository's Python sources (library, tests,
scripts) besides its own definition, so unused code cannot quietly regrow.
A reference is any occurrence of the name as an identifier-like token."""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "firmwarescraper_spark")


def _py_files(top: str):
    for d, dirs, files in os.walk(top):
        dirs[:] = [x for x in dirs
                   if not x.startswith((".", "__pycache__", "spark-warehouse"))]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _top_level_defs(path: str) -> list:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    return [node for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef))]


def test_no_unreferenced_top_level_defs():
    tokens = Counter()
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as fh:
            tokens.update(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", fh.read()))
    defs = {path: _top_level_defs(path) for path in _py_files(PKG)}
    n_defs = Counter(node.name for nodes in defs.values() for node in nodes)
    unused = [
        f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.name}"
        for path, nodes in sorted(defs.items()) for node in nodes
        if tokens[node.name] <= n_defs[node.name]
    ]
    assert not unused, "unreferenced top-level definitions:\n" + "\n".join(unused)
