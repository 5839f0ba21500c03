"""Static guard: compute-once-per-corpus values and derived scratch
artifacts go through ``scratch.memo`` / ``scratch.build_once`` only. No
engine module except ``scratch.py`` resolves a path in the system temp
dir (``tempfile.gettempdir`` / ``tempfile.mkdtemp``: shared across
processes, never removed at exit), and none keeps its own module-level
memo dict (one a function of the module writes to)."""

from __future__ import annotations

import ast
import os

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

# file -> audited module-level dicts that a function of the module
# writes to; "*" allows every dict of the file
ALLOWED_WRITTEN_DICTS = {
    # the memo itself, its locks and the build-seconds recorder
    "scratch.py": {"*"},
    # the query/layout/skip registries the decorators fill
    "registry.py": {"_REGISTRY", "_LAYOUTS", "_SKIPPED"},
    # test hooks: the base dir of the last streaming run
    "streaming/bgp_stream.py": {"_LAST_BASE"},
    "streaming/dedup_stream.py": {"_LAST_BASE"},
}
_DICT_CTORS = {"dict", "defaultdict", "OrderedDict"}
_DICT_WRITERS = {"setdefault", "update"}


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


def _module_dicts(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        f = getattr(value, "func", None)
        if isinstance(value, (ast.Dict, ast.DictComp)) or (
            isinstance(value, ast.Call)
            and (getattr(f, "id", None) or getattr(f, "attr", None))
            in _DICT_CTORS
        ):
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def _written_dicts(tree: ast.Module) -> set[str]:
    """Module-level dicts that a function of the module writes to: a
    subscript store, ``setdefault`` or ``update``."""
    dicts = _module_dicts(tree)
    written = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Subscript)
                and isinstance(node.ctx, ast.Store)
                and isinstance(node.value, ast.Name)
            ):
                written.add(node.value.id)
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _DICT_WRITERS
                and isinstance(node.func.value, ast.Name)
            ):
                written.add(node.func.value.id)
    return written & dicts


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
    found = {
        rel: names
        for rel, tree in _modules()
        if (names := _written_dicts(tree))
    }
    memos = {
        rel: extra
        for rel, names in found.items()
        if "*" not in (allowed := ALLOWED_WRITTEN_DICTS.get(rel, set()))
        and (extra := sorted(names - allowed))
    }
    assert not memos, (
        f"hand-kept memo dicts: {memos}; route the computation "
        "through scratch.memo (or scratch.build_once for a path)"
    )
    stale = {
        (rel, name)
        for rel, names in ALLOWED_WRITTEN_DICTS.items()
        for name in names
        if rel not in found or (name != "*" and name not in found[rel])
    }
    assert not stale, f"allowlist entries no longer present: {stale}"
