"""Static map from each ``__spark_entry__.queries()`` entry to the library
modules it calls.

The map is read from the source with ``ast`` (no Spark session, no import of
the entry module), so it costs nothing at run time and a test can check that
it covers every registry entry. A query's modules are the
``firmwarescraper_spark`` imports it references, directly or through helper
functions it calls (nested helpers inside ``queries()`` and module-level
helpers such as ``_t`` or ``_sketches_mod``).
"""

from __future__ import annotations

import ast
import os

PKG = "firmwarescraper_spark"
SQL_ONLY = "sql_only"


def _module_of(root: str, mod: str, name: str | None) -> str | None:
    """Library module for ``from mod import name`` (or ``import mod``)."""
    if mod != PKG and not mod.startswith(PKG + "."):
        return None
    parts = mod.split(".")[1:]
    if name and os.path.isfile(os.path.join(root, PKG, *parts, name + ".py")):
        parts.append(name)
    return ".".join(parts) or None


def _aliases(root: str, stmts) -> dict[str, str]:
    out = {}
    for node in stmts:
        if isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                m = _module_of(root, node.module, a.name)
                if m:
                    out[a.asname or a.name] = m
        elif isinstance(node, ast.Import):
            for a in node.names:
                m = _module_of(root, a.name, None)
                if m and a.asname:
                    out[a.asname] = m
    return out


def query_modules(root: str) -> dict[str, tuple[str, ...]]:
    """{query name: sorted library modules it calls}; ``("sql_only",)`` for
    a query that calls none. ``root`` is the repository root."""
    with open(os.path.join(root, "__spark_entry__.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    mod_defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    mod_alias = _aliases(root, tree.body)
    qfn = mod_defs["queries"]
    q_defs = {n.name: n for n in qfn.body if isinstance(n, ast.FunctionDef)}
    q_alias = _aliases(root, qfn.body)
    registry = next(
        n.value for n in qfn.body
        if isinstance(n, ast.Return) and isinstance(n.value, ast.Dict))

    memo: dict[str, frozenset] = {}

    def calls(name: str, node: ast.FunctionDef, stack: tuple) -> frozenset:
        if name in memo:
            return memo[name]
        local = _aliases(root, ast.walk(node))
        mods = set()
        for sub in ast.walk(node):
            if not isinstance(sub, ast.Name):
                continue
            ident = sub.id
            for table in (local, q_alias, mod_alias):
                if ident in table:
                    mods.add(table[ident])
                    break
            else:
                helper = q_defs.get(ident) or mod_defs.get(ident)
                if helper is not None and ident not in stack and ident != "queries":
                    mods |= calls(ident, helper, stack + (ident,))
        memo[name] = frozenset(mods)
        return memo[name]

    out = {}
    for key, val in zip(registry.keys, registry.values):
        fn = q_defs[val.id]
        out[key.value] = tuple(sorted(calls(val.id, fn, (val.id,)))) or (SQL_ONLY,)
    return out
