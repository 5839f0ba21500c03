"""Registry discovery (no Spark session): loading the registry imports
every operator/streaming module, and the self-registered layouts are
exactly the build-once layouts the bench builds, in dependency order.

One registered computation per question: a second name for a query is an
alias (``register(..., aliases=...)``), never a copied function, and two
queries that share an oracle are audited real alternatives."""

from __future__ import annotations

import ast
import inspect
import os
import re
import sys
from collections import defaultdict

from nosql_triple_store_spark import operators, streaming
from nosql_triple_store_spark.registry import all_layouts, all_specs, computations

LAYOUTS = {
    "bucketed_orders_lineitem",
    "copurchase_edges",
    "triangle_list",
    "shingle_stream",
    "ranked_shingles",
    "band_index",
    "nearband_edges",
    "bgp_encoded_store",
    "ivf_coarse_codebook",
    "pq_code_table",
    "bucket_layout",
    "bloom_layout",
    "vacuum_register",
}

# Non-alias queries whose oracles are the same text: each group answers
# one question by different plans (batch vs streaming, a skew or
# cogroup rewrite, a different source format).
SHARED_ORACLE_GROUPS = {
    frozenset({"q_graph_cc", "q_graph_cc_stars"}),
    frozenset({"q_tumbling_window", "q_stream_tumbling"}),
    frozenset({"q_sliding_window", "q_stream_sliding"}),
    frozenset({"q_join_asof", "q_join_asof_cogroup"}),
    frozenset({"q_join_skewed", "q_join_skewed_salted"}),
    frozenset({"q_source_orc", "q_source_avro"}),
    frozenset({"q_source_bson", "q_source_jdbc"}),
    frozenset(
        {"q_lww_latest", "q_stream_compact", "q_stream_lww", "q_stream_lww_state"}
    ),
    frozenset({"q_lww_tombstone", "q_stream_tombstone"}),
    frozenset({"q_sparql_select", "q_stream_bgp_delta_join"}),
}


def test_every_module_is_imported():
    all_specs()
    for pkg in (operators, streaming):
        (pkg_dir,) = pkg.__path__
        for f in sorted(os.listdir(pkg_dir)):
            if f.endswith(".py") and f != "__init__.py":
                assert f"{pkg.__name__}.{f[:-3]}" in sys.modules, f


def test_layout_names():
    names = list(all_layouts())
    assert len(names) == len(set(names))
    assert set(names) == LAYOUTS


def test_layout_consumers_match_registered_queries():
    specs = all_specs()
    for layout in all_layouts().values():
        cre = re.compile(layout.consumers)
        assert any(cre.search(q) for q in specs), layout.name


def test_layouts_register_after_their_inputs():
    order = list(all_layouts())
    for before, after in [
        ("shingle_stream", "ranked_shingles"),
        ("shingle_stream", "band_index"),
        ("band_index", "nearband_edges"),
        ("copurchase_edges", "triangle_list"),
        ("ivf_coarse_codebook", "pq_code_table"),
    ]:
        assert order.index(before) < order.index(after), (before, after)


def test_aliases_share_their_targets_function_and_oracle():
    specs = all_specs()
    aliases = {n: s for n, s in specs.items() if s.alias_of is not None}
    assert aliases
    for name, spec in aliases.items():
        target = specs[spec.alias_of]
        assert target.alias_of is None, f"{name} aliases an alias"
        assert spec.fn is target.fn, name
        assert spec.oracle == target.oracle, name


def test_shared_oracles_are_audited_alternatives():
    by_text = defaultdict(set)
    for name, spec in computations().items():
        if spec.oracle is not None:
            by_text[" ".join(spec.oracle.split())].add(name)
    groups = {frozenset(g) for g in by_text.values() if len(g) > 1}
    unexpected = sorted(sorted(g) for g in groups - SHARED_ORACLE_GROUPS)
    assert not unexpected, (
        f"queries share an oracle: {unexpected}; register a second name "
        "for one computation as an alias"
    )
    stale = sorted(sorted(g) for g in SHARED_ORACLE_GROUPS - groups)
    assert not stale, f"allowlist entries no longer present: {stale}"


def _body(fn, trees: dict) -> str:
    """The AST of top-level function ``fn``'s body without its
    docstring; ``trees`` caches each module's parse."""
    mod = inspect.getmodule(fn)
    if mod not in trees:
        trees[mod] = ast.parse(inspect.getsource(mod))
    (node,) = [
        d
        for d in trees[mod].body
        if isinstance(d, ast.FunctionDef) and d.name == fn.__name__
    ]
    body = node.body
    if body and isinstance(body[0], ast.Expr) and isinstance(
        body[0].value, ast.Constant
    ):
        body = body[1:]
    return ast.dump(ast.Module(body=body, type_ignores=[]))


def test_no_query_body_repeats_another():
    by_body = defaultdict(list)
    trees: dict = {}
    for name, spec in computations().items():
        by_body[_body(spec.fn, trees)].append(name)
    copies = sorted(sorted(g) for g in by_body.values() if len(g) > 1)
    assert not copies, (
        f"registered queries with the same body: {copies}; register the "
        "copy as an alias of one of them"
    )
