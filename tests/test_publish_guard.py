"""Static guard: one owner for publishing a directory and one for
draining a stream. Outside ``sources/compaction.py`` no engine module
renames or moves a path into place or spells a ``_stage`` path (use
``compaction.publish`` / ``publish_file``), and no module except the one
holding ``drain`` waits on a streaming query. The per-file ``os.replace``
publishes listed below are audited: each renames one task's own temp
file into place."""

from __future__ import annotations

import ast

from .test_build_once_guard import _modules

PUBLISHER = "sources/compaction.py"
DRAINER = "streaming/queries.py"
ALLOWED_REPLACE = {
    "sources/avro_py.py": 1,
    "sources/bson_py.py": 1,
    "operators/vector_ext9.py": 1,
}
_MOVES = {("os", "rename"), ("os", "replace"), ("shutil", "move")}


def _moves(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
                if (f.value.id, f.attr) in _MOVES:
                    found.append(f"{f.value.id}.{f.attr}")
        elif isinstance(node, ast.ImportFrom):
            found += [
                f"{node.module}.{a.name}"
                for a in node.names
                if (node.module, a.name) in _MOVES
            ]
    return found


def _stage_literals(tree: ast.AST) -> int:
    return sum(
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "_stage" in node.value
        for node in ast.walk(tree)
    )


def _awaits(tree: ast.AST) -> int:
    return sum(
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "awaitTermination"
        for node in ast.walk(tree)
    )


def test_directories_are_published_through_compaction():
    bad = {}
    for rel, tree in _modules():
        if rel == PUBLISHER:
            continue
        moves = _moves(tree)
        replaces = moves.count("os.replace")
        if replaces <= ALLOWED_REPLACE.get(rel, 0):
            moves = [m for m in moves if m != "os.replace"]
        if moves or _stage_literals(tree):
            bad[rel] = (moves, _stage_literals(tree))
    assert not bad, (
        f"hand-written publish outside {PUBLISHER}: {bad}; use "
        "compaction.publish (directories) or publish_file (one file)"
    )


def test_allowlisted_replaces_still_exist():
    replaces = {
        rel: _moves(tree).count("os.replace") for rel, tree in _modules()
    }
    assert {f: replaces.get(f, 0) for f in ALLOWED_REPLACE} == ALLOWED_REPLACE


def test_streams_are_drained_in_one_place():
    sites = {
        rel: n for rel, tree in _modules() if (n := _awaits(tree))
    }
    assert sites == {DRAINER: 1}, (
        f"streaming queries awaited outside queries.drain: {sites}"
    )
