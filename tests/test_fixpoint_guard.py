"""Static guard: iterative loops have one driver,
``materialize.fixpoint``. No ``for``/``while`` body references
``materialize`` or ``lazy_cut`` outside ``materialize.py`` and the
audited functions below; a new loop that cuts lineage per round goes
through ``fixpoint``, which owns the cut, the one action per round, the
cap and the non-convergence error."""

from __future__ import annotations

import ast

from .test_build_once_guard import _modules

_CUTS = {"materialize", "lazy_cut"}

# (module relative to the package, top-level function) whose loop body
# may cut lineage, each a bounded iteration rather than a fixpoint: it
# returns at its cap by contract, so an error there would change results
ALLOWED_LOOP_CUTS = {
    # tolerance exit or 8 rounds; rows-only floats, so the stop round
    # must not move
    ("operators/graph.py", "q_graph_pagerank"),
    # a round cap or a tolerance exit, normalized in stretches; measured
    # faster at two actions per round
    ("operators/graph_ext6.py", "hits_scores"),
    # a fixed 5 rounds of label propagation
    ("operators/graph_ext4.py", "q_graph_label_propagation"),
    # descent over a fixed threshold ladder whose last rung always
    # returns; a rung is cut so its count and the final sort share it
    ("operators/dedup_prefix.py", "top_pairs_ladder"),
    # k BPE merge rounds, each collecting its argmax on the driver
    ("operators/text_ext.py", "bpe_fit"),
    # one cut per update operation, sequential semantics
    ("plans/sparql.py", "compile_sparql_update"),
}


def _names_cut(node: ast.AST) -> bool:
    return any(
        (isinstance(n, ast.Name) and n.id in _CUTS)
        or (isinstance(n, ast.Attribute) and n.attr in _CUTS)
        for n in ast.walk(node)
    )


def _loop_cut_sites() -> set[tuple[str, str]]:
    sites = set()
    for rel, tree in _modules():
        if rel == "materialize.py":
            continue
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if isinstance(node, (ast.For, ast.AsyncFor, ast.While)) and any(
                    _names_cut(stmt) for stmt in node.body + node.orelse
                ):
                    sites.add((rel, owner))
    return sites


def test_loops_cut_lineage_only_through_fixpoint():
    sites = _loop_cut_sites()
    unexpected = sorted(sites - ALLOWED_LOOP_CUTS)
    assert not unexpected, (
        f"materialize/lazy_cut inside a loop body: {unexpected}; iterate "
        "with materialize.fixpoint"
    )
    stale = sorted(ALLOWED_LOOP_CUTS - sites)
    assert not stale, f"allowlist entries no longer present: {stale}"
