"""Registry hygiene, read from the source with ``ast``: a query name
or a top-level function defined twice silently shadows the first
copy, and a name in both registries is shadowed when the driver
contract merges them."""

from __future__ import annotations

import ast
import collections
import glob
import os
import warnings

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "pyproj_spark")
REGISTRIES = {"queries.py": "QUERIES", "queries_text.py": "QUERIES_TEXT"}


def _bindings(fname: str, registry: str) -> tuple[list[str], list[str]]:
    """(registry keys, top-level def names) of one module, in source
    order, with repeats."""
    with open(os.path.join(PKG, fname)) as f:
        tree = ast.parse(f.read(), fname)
    keys: list[str] = []
    defs: list[str] = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs.append(node.name)
        if not isinstance(node, ast.Assign):
            continue
        for target in node.targets:
            if isinstance(target, ast.Name) and target.id == registry \
                    and isinstance(node.value, ast.Dict):
                keys += [k.value for k in node.value.keys
                         if isinstance(k, ast.Constant)]
            elif isinstance(target, ast.Subscript) \
                    and isinstance(target.value, ast.Name) \
                    and target.value.id == registry \
                    and isinstance(target.slice, ast.Constant):
                keys.append(target.slice.value)
    return keys, defs


def _repeats(names: list[str]) -> list[str]:
    return sorted(n for n, c in collections.Counter(names).items() if c > 1)


@pytest.mark.parametrize("fname", sorted(REGISTRIES))
def test_no_name_bound_twice(fname):
    keys, defs = _bindings(fname, REGISTRIES[fname])
    assert keys, f"no {REGISTRIES[fname]} entries found in {fname}"
    assert _repeats(keys) == [], f"registry keys set twice in {fname}"
    assert _repeats(defs) == [], f"top-level defs repeated in {fname}"


def test_registries_are_disjoint():
    keys = [set(_bindings(f, r)[0]) for f, r in REGISTRIES.items()]
    assert sorted(keys[0] & keys[1]) == []


def test_sources_compile_without_warnings():
    """An invalid escape such as ``"\\s"`` in a non-raw string warns on
    every import (DeprecationWarning, SyntaxWarning from Python 3.12)
    and is meant to become a SyntaxError."""
    paths = sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
                   + glob.glob(os.path.join(ROOT, "tools", "**", "*.py"),
                               recursive=True))
    assert len(paths) > 10
    bad = []
    for path in paths:
        with open(path) as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, path, "exec")
            except SyntaxError as e:
                bad.append(f"{os.path.relpath(path, ROOT)}: {e}")
    assert bad == []
