"""Dead-code guard: every top-level function and class in the package is
referenced somewhere in the repository's Python sources (library, tests,
scripts) besides its own definition, so unused code cannot quietly regrow.
A reference is any occurrence of the name as an identifier-like token.

A def referenced only under ``tests/`` is library code no caller uses; it
must be named in ``TEST_ONLY``, and every name there must still be
test-only, so the list can only shrink. This file's own tokens are not
references."""

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "firmwarescraper_spark")
TESTS = os.path.join(ROOT, "tests")

TEST_ONLY = {
    "bpe_reference", "dedup_batch", "encode_jpeg_arith_progressive",
    "encode_jpeg_lossless", "encode_jpeg_lossless_arith",
    "encode_png_interlaced", "encode_png_palette", "excise_spans",
    "extract_audio_features", "extract_hrefs_udf", "extract_pre_texts_udf",
    "extract_text_udf", "fingerprint_rolling", "gpl_meta_cols", "read_warc",
    "trap_filter", "write_warc",
}


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


def _references() -> tuple:
    """Token counts over every Python source but this file, and over the
    ones outside ``tests/``; the package's defs by file; and how many
    times each name is defined."""
    everywhere, outside_tests = Counter(), Counter()
    for path in _py_files(ROOT):
        if path == os.path.abspath(__file__):
            continue
        with open(path, encoding="utf-8") as fh:
            found = re.findall(r"[A-Za-z_][A-Za-z0-9_]*", fh.read())
        everywhere.update(found)
        if not path.startswith(TESTS + os.sep):
            outside_tests.update(found)
    defs = {path: _top_level_defs(path) for path in _py_files(PKG)}
    n_defs = Counter(node.name for nodes in defs.values() for node in nodes)
    return everywhere, outside_tests, defs, n_defs


def test_no_unreferenced_top_level_defs():
    tokens, _, defs, n_defs = _references()
    unused = [
        f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.name}"
        for path, nodes in sorted(defs.items()) for node in nodes
        if tokens[node.name] <= n_defs[node.name]
    ]
    assert not unused, "unreferenced top-level definitions:\n" + "\n".join(unused)


def test_test_only_defs_only_shrink():
    tokens, outside_tests, defs, n_defs = _references()
    test_only = {
        node.name for nodes in defs.values() for node in nodes
        if tokens[node.name] > n_defs[node.name] >= outside_tests[node.name]
    }
    assert not test_only - TEST_ONLY, (
        "defs referenced only under tests/: " + ", ".join(
            sorted(test_only - TEST_ONLY)))
    assert not TEST_ONLY - test_only, (
        "no longer test-only, drop from TEST_ONLY: " + ", ".join(
            sorted(TEST_ONLY - test_only)))
