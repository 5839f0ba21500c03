"""Static guard: newest-per-key folds have one rule,
``functions/lww.py``. ``max_by`` is called there and at the audited
sites below, where it picks something other than a register's newest
row; a new LWW fold calls ``latest_by_key`` instead."""

from __future__ import annotations

import ast

from .test_build_once_guard import _modules

# (module relative to the package, top-level function) allowed to call
# max_by besides functions/lww.py
ALLOWED_MAX_BY = {
    # as-of joins: the newest build row at or before each probe row
    ("operators/joins.py", "q_join_asof"),
    ("operators/relational_ext15.py", "q_join_asof_tolerance"),
    # the most frequent neighbour label
    ("operators/graph_ext4.py", "q_graph_label_propagation"),
    # M4 downsampling: last value per time bucket next to first/min/max
    ("operators/relational_ext36.py", "q_events_m4_downsample"),
    # the heaviest join key
    ("operators/relational_ext55.py", "q_meta_join_skew"),
}


def _max_by_sites() -> set[tuple[str, str]]:
    sites = set()
    for rel, tree in _modules():
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            sites |= {
                (rel, owner)
                for node in ast.walk(top)
                if isinstance(node, ast.Call)
                and isinstance(node.func, (ast.Name, ast.Attribute))
                and getattr(node.func, "id", getattr(node.func, "attr", None))
                == "max_by"
            }
    return sites


def test_max_by_only_in_lww_and_audited_sites():
    sites = {s for s in _max_by_sites() if s[0] != "functions/lww.py"}
    unexpected = sorted(sites - ALLOWED_MAX_BY)
    assert not unexpected, (
        f"max_by outside functions/lww.py: {unexpected}; fold newest-per-key "
        "with functions.lww.latest_by_key"
    )
    stale = sorted(ALLOWED_MAX_BY - sites)
    assert not stale, f"allowlist entries no longer present: {stale}"
