"""Static guard: triple-pattern queries have one execution path, the
SPARQL compiler over the encoded store (``compile_sparql_encoded``). No
operator module hand-builds a BGP with ``compile_bgp``, and only the
audited sites below read the string-space ``triples_view``."""

from __future__ import annotations

import ast

from .test_build_once_guard import _modules

# (module relative to the package, top-level function) allowed to read
# the string-space triples
ALLOWED_TRIPLES_VIEW = {
    # the encoded-store build: dictionary and encoded triples
    ("operators/bgp_queries.py", "encoded_store"),
    # iterative BFS over the undirected location edges
    ("operators/graph_ext.py", "q_graph_bfs"),
    # min_hops of a bounded path has no SPARQL 1.1 form
    ("operators/bgp_queries.py", "q_bgp_path_quantified"),
}


def _operator_modules():
    return [(rel, tree) for rel, tree in _modules() if rel.startswith("operators/")]


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _triples_view_sites() -> set[tuple[str, str]]:
    sites = set()
    for rel, tree in _operator_modules():
        for top in tree.body:
            owner = (
                top.name
                if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
                else "<module>"
            )
            sites |= {
                (rel, owner)
                for node in ast.walk(top)
                if isinstance(node, ast.Call)
                and _called_name(node) == "triples_view"
            }
    return sites


def test_no_operator_imports_compile_bgp():
    importers = sorted(
        rel
        for rel, tree in _operator_modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and any(a.name == "compile_bgp" for a in node.names)
    )
    assert not importers, (
        f"operator modules hand-build BGPs: {importers}; write the query "
        "as SPARQL text for plans.sparql.compile_sparql_encoded"
    )


def test_triples_view_only_at_audited_sites():
    sites = _triples_view_sites()
    unexpected = sorted(sites - ALLOWED_TRIPLES_VIEW)
    assert not unexpected, (
        f"string-space triples_view reads outside the audited sites: "
        f"{unexpected}; write the query as SPARQL text over the encoded "
        "store"
    )
    stale = sorted(ALLOWED_TRIPLES_VIEW - sites)
    assert not stale, f"allowlist entries no longer present: {stale}"
