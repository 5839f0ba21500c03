"""Round-9 SPARQL surface: named graphs (GRAPH / FROM NAMED) with
graph-partition pruning, the SPARQL Update subset, ORDER BY
expressions, and the two ADVICE r8 fixes (sub-SELECT nullable-shared
rejection, integer lexical form in string contexts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nosql_triple_store_spark.plans.bgp import Var, triples_view
from nosql_triple_store_spark.plans.quads import quad_layout, quads_view
from nosql_triple_store_spark.plans.sparql import (
    ExprFunc,
    ExprNot,
    ExprVar,
    compile_sparql_encoded,
    compile_sparql_update,
    parse_sparql,
    parse_sparql_update,
)

from .conftest import SF_DIR


# ---------------------------------------------------------- parsing
def test_parse_graph_and_from_named():
    q = parse_sparql(
        "SELECT ?g ?s FROM NAMED <g:customer> FROM NAMED <g:supplier> "
        "WHERE { GRAPH ?g { ?s inNation ?o . ?s inSegment ?seg } }"
    )
    assert q.from_named == ["g:customer", "g:supplier"]
    assert len(q.graphs) == 1
    gterm, pats = q.graphs[0]
    assert gterm == Var("g") and len(pats) == 2
    q2 = parse_sparql(
        "SELECT ?s WHERE { GRAPH <g:nation> { ?s hasName ?nm } }"
    )
    assert q2.graphs[0][0] == "g:nation"


def test_parse_order_by_expressions():
    q = parse_sparql(
        "SELECT ?nm WHERE { ?n hasName ?nm } "
        "ORDER BY DESC(STRLEN(?nm)) ?nm LIMIT 3"
    )
    (k1, d1), (k2, d2) = q.order_by
    assert d1 is True and not isinstance(k1, str)
    assert k2 == "nm" and d2 is False


@pytest.mark.parametrize(
    "bad",
    [
        # FROM NAMED without a GRAPH group selects nothing
        "SELECT ?s FROM NAMED <g:customer> WHERE { ?s ?p ?o }",
        # paths inside GRAPH groups
        "SELECT ?s WHERE { GRAPH ?g { ?s inNation/inRegion ?o } }",
        # GRAPH takes ?var or <iri>
        'SELECT ?s WHERE { GRAPH "g:x" { ?s ?p ?o } }',
        # empty GRAPH group
        "SELECT ?s WHERE { GRAPH ?g { } }",
    ],
)
def test_rejects_bad_graphs(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


@pytest.mark.parametrize(
    "bad",
    [
        "DESCRIBE",  # no resource
        "DESCRIBE nation:7",  # bare word, not <iri> or ?var
        "DESCRIBE <a> ?v WHERE { ?v ?p ?o }",  # iris and var mixed
        "DESCRIBE ?v",  # var form needs WHERE
        "DESCRIBE <a> LIMIT 5",  # no solution modifiers
        "DESCRIBE ?v WHERE { ?v ?p ?o } ORDER BY ?v",  # no modifiers
    ],
)
def test_rejects_bad_describe(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_describe_var_matches_iri_twin(spark):
    """DESCRIBE ?r WHERE { ?r hasName \"ASIA\" } == DESCRIBE of the
    single matching iri (the variable form resolves to resources then
    takes the identical neighborhood)."""
    by_var = compile_sparql_encoded(
        spark,
        SF_DIR,
        'DESCRIBE ?r WHERE { ?r hasName "ASIA" }',
    )
    by_iri = compile_sparql_encoded(spark, SF_DIR, "DESCRIBE <region:2>")
    assert by_var.exceptAll(by_iri).unionByName(
        by_iri.exceptAll(by_var)
    ).isEmpty()


@pytest.mark.parametrize(
    "bad",
    [
        "INSERT DATA { ?s inSegment \"X\" . }",  # variable in ground data
        "DELETE DATA { <a> inNation/inRegion <b> . }",  # path in data
        "DELETE WHERE { ?s inNation ?o . ?o inRegion ?r }",  # 2 patterns
        "INSERT { <a> <b>/<c> ?x } WHERE { ?s ?p ?x }",  # path in template
        "CLEAR DEFAULT",  # ambiguous in the derived-graph layout
        "DROP NAMED",  # same
        "CLEAR GRAPH g:x",  # bare iri
        "LOAD file:///x.tsv",  # bare iri
        "LOAD <file:///x.tsv> INTO <g:x>",  # missing GRAPH keyword
        "DELETE USING <g> WHERE { ?s ?p ?o }",  # USING without template
        "INSERT { ?s ?p ?o } USING NAMED <g:x> WHERE { ?s ?p ?o }",
        "DELETE { ?s ?p ?o } USING g:x WHERE { ?s ?p ?o }",  # bare iri
        "WITH g:x DELETE { ?s ?p ?o } WHERE { ?s ?p ?o }",  # bare iri
        "WITH <g:x> INSERT DATA { <a> <b> <c> }",  # WITH on ground data
        "WITH <g:x> DELETE DATA { <a> <b> <c> }",
        "WITH <g:x> DELETE WHERE { ?s ?p ?o }",
        "WITH <g:x> CLEAR GRAPH <g:x>",  # WITH scopes templates only
        "WITH <g:x> LOAD <file:///x.tsv>",  # same
        "INSERT { GRAPH <g:x> { ?s ?p ?o } } WHERE { ?s ?p ?o }",  # GRAPH tmpl
        "DELETE { } WHERE { ?s ?p ?o } MORE",  # trailing garbage
        "INSERT WHERE { ?s ?p ?o }",  # template-less INSERT
    ],
)
def test_rejects_bad_updates(bad):
    with pytest.raises(ValueError):
        parse_sparql_update(bad)


def test_using_named_rejection_is_specific():
    """USING NAMED stays a RECOGNIZED rejection (actionable message,
    not a generic parse error) now that WITH / USING are supported
    (round 11, VERDICT r10 #7)."""
    with pytest.raises(ValueError, match="USING NAMED"):
        parse_sparql_update(
            "DELETE { ?s ?p ?o } USING NAMED <g> WHERE { ?s ?p ?o }"
        )
    with pytest.raises(ValueError, match="scopes template operations"):
        parse_sparql_update('WITH <g:x> INSERT DATA { <a> <b> "c" }')


def test_parse_with_and_using_scoping():
    """Round 11 (VERDICT r10 #7): WITH <g> and USING <g> parse onto the
    modify op; multiple USING clauses merge; both compose with the
    combined DELETE/INSERT template form."""
    ops = parse_sparql_update(
        "WITH <g:region> DELETE { ?r hasName ?n } "
        "INSERT { ?r hasName \"X\" } WHERE { ?r hasName ?n } ; "
        "DELETE { ?s inNation ?n } USING <g:supplier> USING <g:customer> "
        "WHERE { ?s inNation ?n }"
    )
    assert [o.kind for o in ops] == ["modify", "modify"]
    assert ops[0].with_graph == "g:region" and ops[0].using == ()
    assert ops[1].with_graph is None
    assert ops[1].using == ("g:supplier", "g:customer")


def test_with_scopes_where_delete_and_insert(spark):
    """WITH <g:region>: hasName lives in BOTH g:region and g:nation —
    the scoped rename must touch region names only."""
    state = compile_sparql_update(
        spark,
        SF_DIR,
        "WITH <g:region> DELETE { ?r hasName ?n } "
        'INSERT { ?r hasName "R_X" } WHERE { ?r hasName ?n }',
    )
    region_names = {
        r["o"]
        for r in state.filter(
            F.col("s").startswith("region:") & (F.col("p") == "hasName")
        ).collect()
    }
    assert region_names == {"R_X"}
    base = triples_view(spark, SF_DIR)
    nat = base.filter(
        F.col("s").startswith("nation:") & (F.col("p") == "hasName")
    )
    nat_after = state.filter(
        F.col("s").startswith("nation:") & (F.col("p") == "hasName")
    )
    assert nat_after.exceptAll(nat).unionByName(
        nat.exceptAll(nat_after)
    ).isEmpty()


def test_using_rescopes_where_only(spark):
    """USING <g:supplier>: the WHERE binds supplier rows only, so only
    supplier inNation edges are deleted — customers' survive."""
    state = compile_sparql_update(
        spark,
        SF_DIR,
        "DELETE { ?s inNation ?n } USING <g:supplier> "
        "WHERE { ?s inNation ?n }",
    )
    assert state.filter(
        F.col("s").startswith("supplier:") & (F.col("p") == "inNation")
    ).isEmpty()
    base = triples_view(spark, SF_DIR)
    n_cust = base.filter(
        F.col("s").startswith("customer:") & (F.col("p") == "inNation")
    ).count()
    assert (
        state.filter(
            F.col("s").startswith("customer:") & (F.col("p") == "inNation")
        ).count()
        == n_cust
        > 0
    )


def test_with_insert_representability_rejections(spark):
    """The quad layout derives a triple's graph from its subject, so a
    WITH-scoped INSERT whose subject is not provably of the target
    family must reject loudly (never silently drop)."""
    # constant subject of the WRONG family
    with pytest.raises(ValueError, match="unrepresentable"):
        compile_sparql_update(
            spark,
            SF_DIR,
            "WITH <g:region> DELETE { ?r hasName ?n } "
            'INSERT { <nation:1> hasName "X" } WHERE { ?r hasName ?n }',
        )
    # variable subject bound only in OBJECT position
    with pytest.raises(ValueError, match="not provably"):
        compile_sparql_update(
            spark,
            SF_DIR,
            "WITH <g:nation> INSERT { ?n wasSeen \"y\" } "
            "WHERE { ?c inNation ?n }",
        )
    # USING re-scopes WHERE away from the WITH graph: subject-position
    # binding no longer proves the family
    with pytest.raises(ValueError, match="not provably"):
        compile_sparql_update(
            spark,
            SF_DIR,
            "WITH <g:region> DELETE { ?s hasName ?n } "
            'INSERT { ?s hasName "X" } USING <g:nation> '
            "WHERE { ?s hasName ?n }",
        )


def test_parse_group_concat_sample_bound_if():
    q = parse_sparql(
        'SELECT ?r (GROUP_CONCAT(?nm; SEPARATOR="|") AS ?names) '
        "(SAMPLE(?nm) AS ?any) WHERE { ?n inRegion ?r . ?n hasName ?nm } "
        "GROUP BY ?r"
    )
    gc = next(a for a in q.aggs if a.fn == "GROUP_CONCAT")
    assert gc.sep == "|" and gc.alias == "names"
    assert any(a.fn == "SAMPLE" for a in q.aggs)
    q2 = parse_sparql(
        "SELECT ?s WHERE { ?s inNation ?n . OPTIONAL { ?s inSegment ?g } "
        'BIND(IF(BOUND(?g), ?g, COALESCE(?g, "NONE")) AS ?k) '
        "FILTER(!BOUND(?g)) }"
    )
    assert q2.filters[0] == ExprNot(ExprFunc("BOUND", (ExprVar("g"),)))
    assert q2.binds[0][0] == "k"


@pytest.mark.parametrize(
    "bad",
    [
        # GROUP_CONCAT modifier must be SEPARATOR with a string literal
        'SELECT (GROUP_CONCAT(?v; SEP="x") AS ?a) WHERE { ?s ?p ?v } ',
        "SELECT (GROUP_CONCAT(?v; SEPARATOR=5) AS ?a) WHERE { ?s ?p ?v }",
        # BOUND needs a ?var
        'SELECT ?s WHERE { ?s ?p ?o FILTER(BOUND("x")) }',
        # IF condition operator subset
        "SELECT ?s WHERE { ?s ?p ?o BIND(IF(?o ~ ?o, ?o, ?o) AS ?x) }",
        # SAMPLE(*) is not valid SPARQL
        "SELECT (SAMPLE(*) AS ?a) WHERE { ?s ?p ?o }",
    ],
)
def test_rejects_bad_round9_constructs(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_parse_template_update_forms():
    ops = parse_sparql_update(
        "DELETE { ?n inRegion ?r } INSERT { ?n rn ?x } "
        "WHERE { ?n inRegion ?r . ?r hasName ?x } ; "
        "INSERT { ?c t ?x } WHERE { ?c inNation ?x }"
    )
    assert [o.kind for o in ops] == ["modify", "modify"]
    assert ops[0].delete_tmpl and ops[0].insert_tmpl and ops[0].where
    assert not ops[1].delete_tmpl


def test_template_update_unbound_var_rejected(spark):
    with pytest.raises(ValueError, match="not bound"):
        compile_sparql_update(
            spark, SF_DIR, "INSERT { ?z madeUp ?q } WHERE { ?z inNation ?n }"
        )


def test_parse_update_sequence():
    ops = parse_sparql_update(
        'INSERT DATA { <a:1> hasName "X" . <a:2> hasName "Y" } ; '
        "DELETE DATA { <a:3> inNation <n:1> } ; "
        "DELETE WHERE { ?s hasBalanceCents ?v } ;"
    )
    assert [o.kind for o in ops] == [
        "insert_data",
        "delete_data",
        "delete_where",
    ]
    assert ops[0].triples[0] == ("a:1", "hasName", "X")
    assert ops[2].pattern[1] == "hasBalanceCents"


# ------------------------------------------------------ quad layout
def test_quads_cover_triples_exactly(spark):
    """Every triple appears in exactly one named graph — the quad view
    is a partition of the triples view, nothing added or lost."""
    t = triples_view(spark, SF_DIR)
    qd = quads_view(spark, SF_DIR)
    assert qd.count() == t.count()
    assert (
        qd.select("s", "p", "o")
        .exceptAll(t)
        .unionByName(t.exceptAll(qd.select("s", "p", "o")))
        .isEmpty()
    )
    # the graph is a function of the subject's entity prefix
    bad = qd.filter(
        F.col("g") != F.concat(F.lit("g:"), F.split("s", ":").getItem(0))
    )
    assert bad.isEmpty()


def test_graph_constant_prunes_partitions(spark):
    """GRAPH <g:customer> must reach the scan as a g= PartitionFilter —
    the named-graph layout's whole point (VERDICT r8 #5 done-bar)."""
    df = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?seg WHERE { GRAPH <g:customer> { ?c inSegment ?seg } }",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "g:customer" in plan, plan[:2000]


# -------------------------------------------------- semantics pins
def test_graph_variable_binds_partition_column(spark):
    rows = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?g (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s inNation ?o } }"
        " GROUP BY ?g",
    ).collect()
    got = {r["g"]: r["n"] for r in rows}
    qd = quads_view(spark, SF_DIR).filter(F.col("p") == "inNation")
    want = {
        r["g"]: r["n"]
        for r in qd.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and set(got) == {"g:customer", "g:supplier"}


def test_from_named_restricts_universe(spark):
    rows = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?g (COUNT(*) AS ?n) FROM NAMED <g:supplier> "
        "WHERE { GRAPH ?g { ?s inNation ?o } } GROUP BY ?g",
    ).collect()
    assert {r["g"] for r in rows} == {"g:supplier"}


def test_update_lww_upsert_semantics(spark):
    """INSERT DATA replaces every object of an existing (s, p) key (R2
    LWW register) and batch-internal duplicates keep the LAST write
    (R8 delta-dict overwrite)."""
    state = compile_sparql_update(
        spark,
        SF_DIR,
        'INSERT DATA { <customer:1> inSegment "PROMO_X" . '
        '<region:77> hasName "A" . <region:77> hasName "B" . }',
    )
    c1 = state.filter(
        (F.col("s") == "customer:1") & (F.col("p") == "inSegment")
    ).collect()
    assert [r["o"] for r in c1] == ["PROMO_X"]  # old object replaced
    r77 = state.filter(F.col("s") == "region:77").collect()
    assert [(r["p"], r["o"]) for r in r77] == [("hasName", "B")]
    # untouched keys unchanged: total = base - replaced + inserted
    base = triples_view(spark, SF_DIR).count()
    assert state.count() == base + 1  # one new key, one replaced in place


def test_update_delete_where_removes_matches(spark):
    state = compile_sparql_update(
        spark, SF_DIR, "DELETE WHERE { ?s hasBalanceCents ?v }"
    )
    assert state.filter(F.col("p") == "hasBalanceCents").isEmpty()
    base = triples_view(spark, SF_DIR)
    n_bal = base.filter(F.col("p") == "hasBalanceCents").count()
    assert state.count() == base.count() - n_bal


def test_order_by_expression_sorts(spark):
    rows = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?nm WHERE { ?n hasName ?nm . ?n inRegion ?r } "
        "ORDER BY DESC(STRLEN(?nm)) ?nm LIMIT 5",
    ).collect()
    names = [r["nm"] for r in rows]
    assert names == sorted(names, key=lambda s: (-len(s), s))[: len(names)]


def test_order_by_expression_unbound_var_raises(spark):
    with pytest.raises(ValueError, match="ORDER BY"):
        compile_sparql_encoded(
            spark,
            SF_DIR,
            "SELECT ?nm WHERE { ?n hasName ?nm } ORDER BY STRLEN(?zzz)",
        ).collect()


def test_subselect_nullable_shared_var_rejected(spark):
    """ADVICE r8: a shared variable that is OPTIONAL-bound must reject
    loudly (the inner join would silently drop NULL-bound rows where
    SPARQL treats unbound as compatible)."""
    with pytest.raises(ValueError, match="OPTIONAL-bound"):
        compile_sparql_encoded(
            spark,
            SF_DIR,
            "SELECT ?n ?seg WHERE { ?n inRegion ?r . "
            "OPTIONAL { ?n inSegment ?seg } "
            "{ SELECT ?seg WHERE { ?c inSegment ?seg } } }",
        )


def test_concat_integer_literal_lexical_form(spark):
    """ADVICE r8: integer-valued numeric literals render as '1', not
    '1.0', inside CONCAT."""
    rows = compile_sparql_encoded(
        spark,
        SF_DIR,
        'SELECT (CONCAT(?nm, "-", 1) AS ?t) WHERE '
        '{ ?n hasName ?nm } ORDER BY ?t LIMIT 1',
    ).collect()
    assert rows[0]["t"].endswith("-1") and not rows[0]["t"].endswith("-1.0")


def test_plain_from_merges_default_graph(spark):
    """Round 10: plain FROM <g> overrides the default graph — counts
    must partition exactly (customer + supplier = unrestricted), the
    multi-FROM form is the graph MERGE, and GRAPH groups stay on the
    named-graph universe (unaffected by FROM)."""
    def n(q):
        return compile_sparql_encoded(spark, SF_DIR, q).count()

    base = "SELECT ?m ?n {} WHERE {{ ?m inNation ?n }}"
    alln = n(base.format(""))
    cust = n(base.format("FROM <g:customer>"))
    supp = n(base.format("FROM <g:supplier>"))
    both = n(base.format("FROM <g:customer> FROM <g:supplier>"))
    assert cust + supp == alln == both
    assert 0 < supp < cust
    # unknown graph -> empty default graph, legal
    assert n(base.format("FROM <g:nosuch>")) == 0


def test_from_rejects_bad_iri():
    with pytest.raises(ValueError, match="FROM needs an <iri>"):
        parse_sparql("SELECT ?s FROM g:x WHERE { ?s ?p ?o }")


def test_from_without_from_named_empties_graph_groups(spark):
    """ADVICE r10 #1 (SPARQL 1.1 §13.2): a dataset clause replaces the
    WHOLE dataset — FROM without FROM NAMED implies an EMPTY named
    set, so GRAPH ?g must match nothing (not range over all graphs);
    adding FROM NAMED restores exactly the listed graphs."""
    def n(clauses):
        return compile_sparql_encoded(
            spark,
            SF_DIR,
            f"SELECT ?c ?g {clauses} WHERE "
            "{ ?c inNation ?nat . GRAPH ?g { ?s inNation ?nat } }",
        ).count()

    assert n("FROM <g:customer>") == 0
    restored = n("FROM <g:customer> FROM NAMED <g:supplier>")
    assert restored > 0
    # no dataset clause at all: named set = all graphs (engine default)
    assert n("") > restored


# --- round 11: CLEAR / DROP / LOAD graph management -----------------


def test_parse_clear_drop_load_forms():
    """CLEAR/DROP (GRAPH <g> | ALL, SILENT inert) and LOAD
    [INTO GRAPH <g>] parse to the intended UpdateOps; DROP ≡ CLEAR
    (no empty-graph bookkeeping, SPARQL 1.1 §3.2.2/§3.2.3)."""
    ops = parse_sparql_update(
        "CLEAR GRAPH <g:region> ; DROP SILENT GRAPH <g:supplier> ; "
        "CLEAR SILENT ALL ; LOAD <file:///d.tsv> ; "
        "LOAD SILENT <file:///d.tsv> INTO GRAPH <g:region>"
    )
    assert [op.kind for op in ops] == [
        "clear", "clear", "clear", "load", "load",
    ]
    assert ops[0].graph == "g:region"
    assert ops[1].graph == "g:supplier"
    assert ops[2].graph is None  # ALL
    assert ops[3].iri == "file:///d.tsv" and ops[3].graph is None
    assert ops[4].graph == "g:region"


def test_clear_graph_and_all(spark):
    """CLEAR GRAPH removes exactly the named graph's (subject-family)
    triples; CLEAR ALL empties the state but keeps the schema."""
    state0 = triples_view(spark, SF_DIR)
    n_region = state0.filter(F.col("s").startswith("region:")).count()
    assert n_region > 0
    cleared = compile_sparql_update(
        spark, SF_DIR, "CLEAR GRAPH <g:region>"
    )
    assert cleared.filter(F.col("s").startswith("region:")).count() == 0
    assert cleared.count() == state0.count() - n_region
    nothing = compile_sparql_update(spark, SF_DIR, "DROP ALL")
    assert nothing.count() == 0
    assert nothing.columns == ["s", "p", "o"]


def test_load_set_union_and_into_graph_validation(spark, tmp_path):
    """LOAD merges the document set-wise (re-loading the same doc adds
    nothing — §3.1.4 graph union) and INTO GRAPH rejects documents
    whose subjects fall outside the target family."""
    doc = tmp_path / "d.tsv"
    doc.write_text(
        "region:0\thasMotto\tm0\n"
        "region:0\thasMotto\tm0\n"  # in-document duplicate
        "region:1\thasMotto\tm1\n"
    )
    once = compile_sparql_update(spark, SF_DIR, f"LOAD <file://{doc}>")
    base = triples_view(spark, SF_DIR).count()
    assert once.count() == base + 2  # dup landed once
    twice = compile_sparql_update(
        spark, SF_DIR, f"LOAD <file://{doc}> ; LOAD <file://{doc}>"
    )
    assert twice.count() == base + 2  # idempotent re-load
    bad = tmp_path / "bad.tsv"
    bad.write_text("region:0\thasMotto\tm0\nnation:1\thasMotto\tmx\n")
    with pytest.raises(ValueError, match="outside that graph's family"):
        compile_sparql_update(
            spark, SF_DIR, f"LOAD <file://{bad}> INTO GRAPH <g:region>"
        ).count()
