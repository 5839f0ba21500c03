"""Static guard: no engine module keeps an unused top-level import.

A name bound by a top-level ``import`` counts as used when the module
reads it, lists it in ``__all__``, when the import line carries a
``# noqa: F401`` re-export marker, or when another module of the
repository (engine, tests, scripts, entry points) imports that name
from this module."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "nosql_triple_store_spark")


def _py_files(top: str):
    for root, _, files in os.walk(top):
        for fn in sorted(files):
            if fn.endswith(".py"):
                yield os.path.join(root, fn)


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def _resolve(module: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    """Absolute module name of a ``from ... import`` in ``module``."""
    if not node.level:
        return node.module or ""
    parts = module.split(".")
    base = parts if is_pkg else parts[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def _imported_from() -> set[tuple[str, str]]:
    """(module, name) for every ``from module import name`` in the repo."""
    out = set()
    files = [
        p
        for top in (PKG, *(os.path.join(ROOT, d) for d in ("tests", "scripts")))
        for p in _py_files(top)
    ] + [
        os.path.join(ROOT, f)
        for f in os.listdir(ROOT)
        if f.endswith(".py")
    ]
    for path in files:
        mod = _module_name(path)
        is_pkg = path.endswith("__init__.py")
        for node in ast.walk(ast.parse(_read(path), path)):
            if isinstance(node, ast.ImportFrom):
                src = _resolve(mod, is_pkg, node)
                out |= {(src, a.name) for a in node.names}
    return out


def _annotations(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, ast.arg | ast.AnnAssign):
            yield node.annotation
        elif isinstance(node, ast.FunctionDef | ast.AsyncFunctionDef):
            yield node.returns


def _unused(path: str) -> set[str]:
    src = _read(path)
    tree, lines = ast.parse(src, path), src.splitlines()
    bound = set()
    for node in tree.body:
        if "noqa: F401" in lines[node.lineno - 1]:
            continue
        if isinstance(node, ast.Import):
            bound |= {(a.asname or a.name).split(".")[0] for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound |= {a.asname or a.name for a in node.names}
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for ann in filter(None, _annotations(tree)):
        # string annotations such as "np.ndarray"
        for c in ast.walk(ann):
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                expr = ast.parse(c.value, mode="eval")
                used |= {n.id for n in ast.walk(expr) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {
                e.value for e in ast.walk(node.value) if isinstance(e, ast.Constant)
            }
    return bound - used


def test_no_unused_top_level_imports():
    reexported = _imported_from()
    unused = {}
    for path in _py_files(PKG):
        mod = _module_name(path)
        names = {
            n for n in _unused(path) if (mod, n) not in reexported
        }
        if names:
            unused[os.path.relpath(path, PKG)] = sorted(names)
    assert not unused, f"unused top-level imports: {unused}"
