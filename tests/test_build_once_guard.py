"""Static guard: derived scratch artifacts are built through
``scratch.build_once`` only. No engine module except ``scratch.py``
resolves a path in the system temp dir (``tempfile.gettempdir`` /
``tempfile.mkdtemp``: shared across processes, never removed at exit),
and none keeps its own module-level ``_*_DIRS`` memo dict."""

from __future__ import annotations

import ast
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "nosql_triple_store_spark",
)

# file (relative to package) -> audited raw temp-dir call sites
ALLOWED_TEMPDIR = {
    # the per-pid package zip shipped to executors (not a derived
    # relation; the name is pid-unique and written once per process)
    "session.py": 1,
}
_TEMPDIR_FNS = {"gettempdir", "mkdtemp"}
_MEMO_NAME = re.compile(r"^_\w*_DIRS$")


def _modules():
    for root, _, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path) as fh:
                    yield rel, ast.parse(fh.read(), path)


def _tempdir_calls(tree: ast.AST) -> int:
    n = 0
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute) and f.attr in _TEMPDIR_FNS:
            if isinstance(f.value, ast.Name) and f.value.id == "tempfile":
                n += 1
        elif isinstance(f, ast.Name) and f.id in _TEMPDIR_FNS:
            n += 1  # from tempfile import mkdtemp
    return n


def _memo_dicts(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        names += [
            t.id
            for t in targets
            if isinstance(t, ast.Name) and _MEMO_NAME.match(t.id)
        ]
    return names


def test_no_raw_tempdir_outside_scratch():
    sites = {
        rel: n
        for rel, tree in _modules()
        if rel != "scratch.py" and (n := _tempdir_calls(tree))
    }
    unexpected = {
        f: n for f, n in sites.items() if n > ALLOWED_TEMPDIR.get(f, 0)
    }
    assert not unexpected, (
        f"raw tempfile paths outside scratch.py: {unexpected}; use "
        "scratch.build_once for derived artifacts, scratch.scratch_tmp "
        "for per-run dirs"
    )
    stale = {f for f in ALLOWED_TEMPDIR if f not in sites}
    assert not stale, f"allowlist entries no longer present: {stale}"


def test_no_module_level_dirs_memo():
    memos = {
        rel: names for rel, tree in _modules() if (names := _memo_dicts(tree))
    }
    assert not memos, (
        f"hand-kept build-once memo dicts: {memos}; route the build "
        "through scratch.build_once"
    )
