"""SPARQL front-end (plans/sparql.py), the one execution path for
triple patterns: parser units, encoded-store execution of every
registered triple-pattern query, SPARQL 1.1 semantics against DuckDB,
loud rejection outside the documented subset."""

from __future__ import annotations

import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from nosql_triple_store_spark.plans.bgp import TRIPLES_SQL, Var
from nosql_triple_store_spark.plans.sparql import (
    ExprBin,
    ExprFunc,
    ExprIn,
    ExprNot,
    ExprStr,
    ExprVar,
    compile_sparql_encoded,
    parse_sparql,
    tokenize,
)
from nosql_triple_store_spark.registry import all_specs

from .conftest import SF_DIR
from .util import compare_to_duckdb

SPECS = all_specs()


# ---------------------------------------------------------- parser


def test_tokenizer_strings_vars_iris():
    toks = tokenize('SELECT ?x WHERE { ?x p "a \\"q\\" b" . ?x q <http://e/x> }')
    assert "?x" in toks and '"a \\"q\\" b"' in toks and "<http://e/x>" in toks


def test_parse_star():
    q = parse_sparql(
        'SELECT ?c ?n WHERE { ?c inSegment "BUILDING" . ?c inNation ?n . }'
    )
    assert q.select == ["c", "n"]
    assert q.patterns == [
        (Var("c"), "inSegment", "BUILDING"),
        (Var("c"), "inNation", Var("n")),
    ]
    assert not q.optionals and not q.filters
    assert q.limit is None and not q.distinct


def test_parse_full_surface():
    q = parse_sparql(
        "SELECT DISTINCT ?a ?b WHERE { ?a p ?b . "
        "OPTIONAL { ?a q ?c } "
        'FILTER(?b != "x" && ?b != "y") FILTER(REGEX(?b, "^z")) } '
        "ORDER BY DESC(?b) LIMIT 5"
    )
    assert q.distinct and q.limit == 5
    assert q.order_by == [("b", True)]
    assert len(q.optionals) == 1 and len(q.filters) == 2
    b = ExprVar("b")
    assert q.filters[0] == ExprBin(
        "&&", ExprBin("!=", b, ExprStr("x")), ExprBin("!=", b, ExprStr("y"))
    )
    assert q.filters[1] == ExprFunc("REGEX", (b, ExprStr("^z")))


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT WHERE { ?s ?p ?o }",  # empty select list
        "SELECT ?s { ?s ?p ?o }",  # missing WHERE
        "SELECT ?s WHERE { }",  # no patterns
        "SELECT ?s WHERE { ?s ?p }",  # incomplete triple
        "SELECT ?s WHERE { ?s ?p ?o } LIMIT x",  # non-integer limit
        # GROUP BY of an unprojectable var mix still rejects
        "SELECT ?s ?p WHERE { ?s ?p ?o } GROUP BY ?s",  # ?p ungrouped
        'SELECT ?s WHERE { ?s ?p ?o FILTER(?s ~ "x") }',  # bad operator
    ],
)
def test_rejects_outside_subset(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_select_unbound_variable_raises(spark):
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    with pytest.raises(ValueError, match="unbound"):
        compile_sparql_encoded(
            spark, SF_DIR, "SELECT ?zzz WHERE { ?c inNation ?n }"
        ).collect()


def test_order_by_unprojected_variable_raises(spark):
    """ORDER BY on a variable dropped by the projection must raise
    the module's ValueError, not a Spark AnalysisException
    (ADVICE r6 #2)."""
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    with pytest.raises(ValueError, match="ORDER BY"):
        compile_sparql_encoded(
            spark,
            SF_DIR,
            "SELECT ?c WHERE { ?c inNation ?n } ORDER BY ?n",
        )
    # same contract through the aggregate projection path
    with pytest.raises(ValueError, match="ORDER BY"):
        compile_sparql_encoded(
            spark,
            SF_DIR,
            "SELECT ?n (COUNT(*) AS ?cnt) WHERE { ?c inNation ?n } "
            "GROUP BY ?n ORDER BY ?c",
        )
    # sorting on a projected var still compiles
    compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?c ?n WHERE { ?c inNation ?n } ORDER BY ?n LIMIT 3",
    )


# ------------------------------------------------- encoded execution

# the star, ASK, MINUS and NOT EXISTS queries and every SPARQL-text
# q_bgp_* computation (an alias runs its target, listed once); the
# closure's plan names only its checkpointed layers, and DESCRIBE reads
# the string-space triples
_ENCODED_QUERIES = [
    "q_sparql_select",
    "q_bgp_point",
    "q_bgp_path",
    "q_sparql_notexists",
    "q_bgp_values",
    "q_bgp_construct",
    "q_sparql_ask",
    "q_bgp_optional",
    "q_bgp_varpred",
    "q_sparql_minus",
    "q_bgp_path_inverse",
]


@pytest.mark.parametrize("name", _ENCODED_QUERIES)
def test_sparql_runs_in_encoded_space(spark, name):
    """The pattern join must consume the scratch-parquet encoded store
    (long-space joins), not the string-space triples view."""
    plan = (
        SPECS[name].fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "bgp_enc" in plan  # encoded triples scratch dir
    assert "bgp_dict" in plan  # dictionary decode joins


def test_optional_after_required_path_matches_duckdb(spark, ddb):
    """An OPTIONAL left-joins after EVERY required pattern, paths
    included (SPARQL 1.1 §18.2.2.6: LeftJoin(Join(required), opt)).
    Here the OPTIONAL shares ?y with the path; joining it before the
    path would leave ?y NULL on every row and the path join would
    then drop them all."""
    got = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?x ?y ?z WHERE { ?x inNation/inRegion ?y . "
        "?x inSegment ?z . OPTIONAL { ?x hasName ?y } }",
    )
    oracle = f"""WITH {TRIPLES_SQL},
req AS (
  SELECT a.s AS x, b.o AS y, c.o AS z FROM triples a
  JOIN triples b ON a.o = b.s AND b.p = 'inRegion'
  JOIN triples c ON c.s = a.s AND c.p = 'inSegment'
  WHERE a.p = 'inNation'),
opt AS (SELECT s AS x, o AS y FROM triples WHERE p = 'hasName')
SELECT req.x, req.y, req.z FROM req
LEFT JOIN opt ON opt.x = req.x AND opt.y = req.y"""
    assert ddb.sql(oracle).fetchall()  # non-empty at every fixture scale
    compare_to_duckdb(got, ddb, oracle)


def test_parse_aggregates():
    q = parse_sparql(
        "SELECT ?g (COUNT(*) AS ?n) (MIN(?x) AS ?lo) WHERE { ?x p ?g } "
        "GROUP BY ?g"
    )
    assert q.select == ["g"] and q.group_by == ["g"]
    assert [(a.fn, a.var, a.alias) for a in q.aggs] == [
        ("COUNT", None, "n"),
        ("MIN", "x", "lo"),
    ]


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT (MEDIAN(?x) AS ?s) WHERE { ?x p ?g }",  # unsupported fn
        "SELECT (MIN(*) AS ?m) WHERE { ?x p ?g }",  # MIN(*)
        "SELECT (SUM(*) AS ?s) WHERE { ?x p ?g }",  # SUM(*)
        "SELECT ?x (COUNT(*) AS ?n) WHERE { ?x p ?g }",  # x not grouped
        "SELECT ?x ?g WHERE { ?x p ?g } GROUP BY ?x",  # ?g ungrouped
        "SELECT * (COUNT(*) AS ?n) WHERE { ?x p ?g }",  # * with agg
    ],
)
def test_rejects_bad_aggregates(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_parse_union():
    q = parse_sparql(
        "SELECT ?a WHERE { { ?a p ?b } UNION { ?a q ?b } UNION { ?a r ?b } }"
    )
    assert len(q.unions) == 3 and not q.patterns


@pytest.mark.parametrize(
    "bad",
    [
        # differing variable sets
        "SELECT ?a WHERE { { ?a p ?b } UNION { ?a q ?c } }",
        # braced group without UNION
        "SELECT ?a WHERE { { ?a p ?b } }",
        # mixing top-level pattern with union groups
        "SELECT ?a WHERE { ?a s ?x . { ?a p ?b } UNION { ?a q ?b } }",
        # a pattern AFTER the union block must reject too (it would
        # otherwise be silently dropped by compile — ADVICE r6 #1)
        "SELECT ?a WHERE { { ?a p ?b } UNION { ?a q ?b } ?a s ?x . }",
        "SELECT ?e ?g WHERE { { ?e inRegion ?g } UNION "
        "{ ?e inSegment ?g } ?e hasName ?x . }",
        # empty group
        "SELECT ?a WHERE { { } UNION { ?a p ?b } }",
    ],
)
def test_rejects_bad_unions(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_optional_over_union_accepted_and_left_extends(spark):
    """Round 10 (VERDICT r9 #5): OPTIONAL over a UNION group parses and
    compiles as leftjoin(union(A, B), C) — the OPTIONAL extends the
    whole union's bag; suppliers (no inSegment) get NULL."""
    q = parse_sparql(
        "SELECT ?a ?c WHERE "
        "{ { ?a p ?b } UNION { ?a q ?b } OPTIONAL { ?a z ?c } }"
    )
    assert len(q.unions) == 2 and len(q.optionals) == 1

    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    rows = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?m ?seg WHERE { { ?m inSegment ?n } UNION "
        "{ ?m inNation ?n } "
        "OPTIONAL { ?m inSegment ?seg } }",
    ).collect()
    assert rows
    # branch A members always re-bind BUILDING; suppliers in branch B
    # (they match inNation but have no segment) must stay NULL
    segs = {r["seg"] for r in rows}
    assert None in segs and "BUILDING" in segs


def test_sparql_groupby_is_partial_aggregate(spark):
    plan = (
        SPECS["q_sparql_groupby"].fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # two-phase aggregate (partial upstream of the exchange — Spark
    # picks SortAggregate for the string min), not a global window
    assert plan.count("Aggregate") >= 2
    assert "partial_count" in plan or "partial_min" in plan
    assert "Window" not in plan


def test_sparql_union_is_columnar_union(spark):
    plan = (
        SPECS["q_sparql_union"].fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Union" in plan
    # both branches still run in encoded long space against the
    # scratch store; the union adds no exchange of its own
    assert "bgp_enc" in plan


def test_ivfpq_no_sort_merge_join_and_no_raw_vector_shuffle(spark):
    plan = (
        SPECS["q_vector_ivfpq"].fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan  # all index tables broadcast
    assert "CartesianProduct" not in plan
    # top-k stages are heap merges, not global sorts
    assert "TakeOrderedAndProject" in plan


# ------------------------------------------------------------- fuzz

from hypothesis import given, settings
from hypothesis import strategies as st

_TOK = st.sampled_from(
    ["SELECT", "WHERE", "{", "}", "(", ")", "FILTER", "OPTIONAL",
     "UNION", "ORDER", "BY", "LIMIT", "GROUP", "AS", "COUNT", "MIN",
     "DESC", "REGEX", ".", "=", "!=", "<", ">=", "&&", "||", "*",
     "?a", "?b", "?c", "p", "q", '"x"', '"y \\" z"', "<http://e/i>",
     "7", "LIMIT", "MINUS", "NOT", "EXISTS", "+", "/", "^", "|",
     "BIND", "HAVING", "CONCAT", "SUBSTR", "STRLEN", "UCASE", "SUM",
     "AVG", ",", "-", "3.5", "100", "!", "CONSTRUCT"]
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_TOK, min_size=0, max_size=25))
def test_parser_rejects_loudly_never_crashes(toks):
    """Any token soup must either parse or raise ValueError — never an
    internal IndexError/KeyError/AttributeError (the rejects-loudly
    contract, fuzzed)."""
    text = " ".join(toks)
    try:
        parse_sparql(text)
    except ValueError:
        pass


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=60))
def test_tokenizer_rejects_loudly_on_arbitrary_text(s):
    try:
        parse_sparql(s)
    except ValueError:
        pass


# ------------------------------ expression precedence vs DuckDB
# One grammar for FILTER and HAVING: && binds tighter than || (the
# SPARQL 1.1 grammar's ConditionalOrExpression over
# ConditionalAndExpression), and parentheses group.

_NATION_NAMES = f"""WITH {TRIPLES_SQL}
SELECT h.o FROM triples h
JOIN triples r ON r.s = h.s AND r.p = 'inRegion'
WHERE h.p = 'hasName' AND ({{}})"""


def _filtered_names(spark, cond: str) -> Counter:
    text = (
        "SELECT ?nm WHERE { ?n hasName ?nm . ?n inRegion ?r . "
        f"FILTER({cond}) }}"
    )
    return Counter(
        r.nm for r in compile_sparql_encoded(spark, SF_DIR, text).collect()
    )


@pytest.mark.parametrize(
    "cond, sql",
    [
        (
            '?nm = "NATION_1" || ?nm = "NATION_2" && ?nm = "NATION_3"',
            "h.o = 'NATION_1' OR (h.o = 'NATION_2' AND h.o = 'NATION_3')",
        ),
        (
            '(?nm = "NATION_1" || ?nm = "NATION_2") && ?nm != "NATION_1"',
            "(h.o = 'NATION_1' OR h.o = 'NATION_2') AND h.o <> 'NATION_1'",
        ),
    ],
    ids=["and_binds_tighter", "parenthesised"],
)
def test_filter_precedence_matches_duckdb(spark, ddb, cond, sql):
    rows = ddb.execute(_NATION_NAMES.format(sql)).fetchall()
    want = Counter(r[0] for r in rows)
    assert want
    assert _filtered_names(spark, cond) == want


def test_having_precedence_matches_duckdb(spark, ddb):
    text = (
        "SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c inSegment ?seg } "
        'GROUP BY ?seg HAVING(?seg = "BUILDING" || ?n >= 1 && ?n > 1000000)'
    )
    sql = f"""WITH {TRIPLES_SQL}
SELECT o, COUNT(*) FROM triples WHERE p = 'inSegment' GROUP BY o
HAVING o = 'BUILDING' OR (COUNT(*) >= 1 AND COUNT(*) > 1000000)"""
    want = Counter(ddb.execute(sql).fetchall())
    rows = compile_sparql_encoded(spark, SF_DIR, text).collect()
    got = Counter((r.seg, r.n) for r in rows)
    assert want and got == want


_NAMES = st.sampled_from(["NATION_1", "NATION_10", "NATION_2", "NATION_5"])
_LEAF = st.tuples(st.sampled_from(["=", "!=", "<"]), _NAMES)


def _filter_tree(children):
    return st.one_of(
        st.tuples(st.just("!"), children),
        st.tuples(st.just("()"), children),
        st.tuples(st.sampled_from(["&&", "||"]), children, children),
    )


_FILTER_TREES = st.recursive(_LEAF, _filter_tree, max_leaves=6)
_PREC = {"||": 1, "&&": 2}


def _sparql_text(t, parent: int = 0) -> str:
    """SPARQL text relying on precedence: parentheses only where the
    tree needs them, plus the explicit "()" nodes."""
    if t[0] == "!":
        return f"!({_sparql_text(t[1])})"
    if t[0] == "()":
        return f"({_sparql_text(t[1])})"
    if t[0] in _PREC:
        p = _PREC[t[0]]
        # left-associative: a right operand of equal precedence keeps
        # its parentheses
        text = f"{_sparql_text(t[1], p)} {t[0]} {_sparql_text(t[2], p + 1)}"
        return f"({text})" if p < parent else text
    return f'?nm {t[0]} "{t[1]}"'


def _sql_text(t) -> str:
    if t[0] == "!":
        return f"NOT ({_sql_text(t[1])})"
    if t[0] == "()":
        return _sql_text(t[1])
    if t[0] in _PREC:
        op = "AND" if t[0] == "&&" else "OR"
        return f"({_sql_text(t[1])} {op} {_sql_text(t[2])})"
    return f"(h.o {'<>' if t[0] == '!=' else t[0]} '{t[1]}')"


@settings(max_examples=25, deadline=None)
@given(tree=_FILTER_TREES)
def test_filter_trees_match_duckdb(spark, ddb, tree):
    rows = ddb.execute(_NATION_NAMES.format(_sql_text(tree))).fetchall()
    want = Counter(r[0] for r in rows)
    assert _filtered_names(spark, _sparql_text(tree)) == want


def test_parse_paths():
    from nosql_triple_store_spark.plans.sparql import (
        PathAlt,
        PathInv,
        PathPlus,
        PathPred,
        PathSeq,
    )

    q = parse_sparql("SELECT ?a ?b WHERE { ?a (p|q)+/^r ?b . }")
    (s, path, o) = q.patterns[0]
    assert path == PathSeq(
        PathPlus(PathAlt(PathPred("p"), PathPred("q"))),
        PathInv(PathPred("r")),
    )
    # a bare predicate stays a plain string constant
    q2 = parse_sparql("SELECT ?a WHERE { ?a p ?b . }")
    assert q2.patterns[0][1] == "p"


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT ?a WHERE { ?a ?p/q ?b . }",  # var inside path
        'SELECT ?a WHERE { ?a "lit"/q ?b . }',  # literal in path
        "SELECT ?a WHERE { ?a p/ ?b . }",  # dangling operator
        # UNION groups binding different var sets stay rejected even
        # when one side is a path
        "SELECT ?a WHERE { { ?a p+ ?b } UNION { ?a q ?c } }",
    ],
)
def test_rejects_bad_paths(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_parse_ask_and_values():
    q = parse_sparql('ASK { ?a p ?b }')
    assert q.ask and not q.select
    q2 = parse_sparql(
        'SELECT ?a WHERE { ?a p ?b . VALUES ?b { "x" "y" } }'
    )
    assert q2.values == [("b", ["x", "y"])]


@pytest.mark.parametrize(
    "bad",
    [
        "ASK { ?a p ?b } LIMIT 1",  # ASK takes no modifiers
        "SELECT ?a WHERE { ?a p ?b . VALUES b { \"x\" } }",  # not a var
        "SELECT ?a WHERE { ?a p ?b . VALUES ?b { } }",  # empty VALUES
        "SELECT ?a WHERE { ?a p ?b . VALUES ?b { x } }",  # bare word
    ],
)
def test_rejects_bad_ask_values(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_ask_false_case(spark):
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    df = compile_sparql_encoded(
        spark, SF_DIR, 'ASK { ?n inRegion ?r . ?r hasName "ATLANTIS" }'
    )
    assert [r.answer for r in df.collect()] == [0]


def test_values_over_unbound_var_raises(spark):
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    with pytest.raises(ValueError, match="unbound"):
        compile_sparql_encoded(
            spark,
            SF_DIR,
            'SELECT ?a WHERE { ?a inNation ?b . VALUES ?zz { "x" } }',
        ).collect()


def test_filter_over_unbound_var_raises(spark):
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    with pytest.raises(ValueError, match="FILTER over unbound"):
        compile_sparql_encoded(
            spark,
            SF_DIR,
            'SELECT ?a WHERE { ?a inNation ?b . FILTER(?zz = "x") }',
        ).collect()


# ------------------------------------- p* / MINUS / NOT EXISTS (r7)


def test_parse_path_star_and_minus_notexists():
    from nosql_triple_store_spark.plans.sparql import PathAlt, PathStar

    q = parse_sparql("SELECT ?a ?b WHERE { ?a (p|q)* ?b . }")
    assert isinstance(q.patterns[0][1], PathStar)
    assert isinstance(q.patterns[0][1].inner, PathAlt)

    q = parse_sparql(
        'SELECT ?c ?s WHERE { ?c p ?s . MINUS { ?c q "x" } '
        "FILTER NOT EXISTS { ?c r ?z } }"
    )
    assert len(q.minus) == 1 and len(q.not_exists) == 1
    assert q.minus[0][0] == (Var("c"), "q", "x")
    assert q.not_exists[0][0] == (Var("c"), "r", Var("z"))


@pytest.mark.parametrize(
    "bad",
    [
        # variable followed by * is a path position
        "SELECT ?a WHERE { ?a ?p* ?b . }",
        # empty groups
        "SELECT ?a WHERE { ?a p ?b . MINUS { } }",
        "SELECT ?a WHERE { ?a p ?b . FILTER NOT EXISTS { } }",
        # NOT without EXISTS
        "SELECT ?a WHERE { ?a p ?b . FILTER NOT { ?a q ?c } }",
    ],
)
def test_rejects_bad_star_minus_notexists(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_minus_no_shared_vars_is_noop(spark):
    """SPARQL 1.1 §8.3: MINUS with no shared variables removes
    nothing; uncorrelated NOT EXISTS removes everything iff the group
    matches at all."""
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    base = 'SELECT ?c WHERE { ?c inSegment "BUILDING" }'
    n_base = compile_sparql_encoded(spark, SF_DIR, base).count()
    assert n_base > 0
    n_minus = compile_sparql_encoded(
        spark,
        SF_DIR,
        'SELECT ?c WHERE { ?c inSegment "BUILDING" . '
        "MINUS { ?x inRegion ?y } }",
    ).count()
    assert n_minus == n_base  # no shared vars -> no-op
    n_ne_match = compile_sparql_encoded(
        spark,
        SF_DIR,
        'SELECT ?c WHERE { ?c inSegment "BUILDING" . '
        "FILTER NOT EXISTS { ?x inRegion ?y } }",
    ).count()
    assert n_ne_match == 0  # group matches -> removes every row
    n_ne_empty = compile_sparql_encoded(
        spark,
        SF_DIR,
        'SELECT ?c WHERE { ?c inSegment "BUILDING" . '
        "FILTER NOT EXISTS { ?x noSuchPredicate ?y } }",
    ).count()
    assert n_ne_empty == n_base  # empty group -> keeps every row


def test_minus_notexists_lower_to_left_anti(spark):
    """MINUS / FILTER NOT EXISTS lower to one left-anti join in
    encoded space, no extra exchanges beyond the member joins."""
    for name in ("q_sparql_minus", "q_sparql_notexists"):
        plan = (
            SPECS[name].fn(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("LeftAnti") == 1, name
        assert "CartesianProduct" not in plan, name
        assert "bgp_enc" in plan, name  # runs against the encoded store


def test_path_star_equals_closure_plus_identity(spark):
    """p* == p+ UNION the zero-length pairs over incident nodes — the
    textual star against the textual closure."""
    star = {
        (r.s, r.o)
        for r in SPECS["q_sparql_path_star"].fn(spark, SF_DIR).collect()
    }
    plus = {
        (r.s, r.o)
        for r in SPECS["q_sparql_path_closure"].fn(spark, SF_DIR).collect()
    }
    nodes = {s for s, _ in plus} | {o for _, o in plus}
    assert star == plus | {(n, n) for n in nodes}


# -------------------------------------- paths inside groups (r7)


def test_path_inside_union_optional_minus(spark):
    """Paths compose with OPTIONAL / UNION / MINUS / NOT EXISTS
    groups (closes the r6 'paths inside groups rejected' scope gap);
    each shape is checked against an equivalent hand-composed
    DataFrame result over the decoded triples."""
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    # path inside UNION: (x -inNation/inRegion-> r) UNION (x -inRegion-> r)
    got = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?x ?r WHERE "
        "{ { ?x inNation/inRegion ?r } UNION { ?x inRegion ?r } }",
    )
    seq = compile_sparql_encoded(
        spark, SF_DIR, "SELECT ?x ?r WHERE { ?x inNation/inRegion ?r }"
    )
    direct = compile_sparql_encoded(
        spark, SF_DIR, "SELECT ?x ?r WHERE { ?x inRegion ?r }"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, seq.collect() + direct.collect())
    )

    # path inside OPTIONAL: left-extend, NULL where the path misses
    opt = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?n ?nm ?rn WHERE { ?n hasName ?nm . "
        "OPTIONAL { ?n inRegion/hasName ?rn } }",
    ).collect()
    named = {
        (r["n"], r["nm"]): r["rn"]
        for r in opt
    }
    base = compile_sparql_encoded(
        spark, SF_DIR, "SELECT ?n ?nm WHERE { ?n hasName ?nm }"
    ).collect()
    assert len(opt) == len(base)  # regions stay, unextended
    assert any(v is None for v in named.values())  # region rows: NULL rn
    assert any(v is not None for v in named.values())  # nation rows bind

    # path inside MINUS: exclusion via the 3-hop chain
    n_all = compile_sparql_encoded(
        spark, SF_DIR, "SELECT ?c ?seg WHERE { ?c inSegment ?seg }"
    ).count()
    n_minus = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?c ?seg WHERE { ?c inSegment ?seg . "
        'MINUS { ?c inNation/inRegion/hasName "ASIA" } }',
    ).count()
    n_asia = compile_sparql_encoded(
        spark,
        SF_DIR,
        'SELECT ?c WHERE { ?c inNation/inRegion/hasName "ASIA" . '
        "?c inSegment ?s }",
    ).count()
    assert 0 < n_minus < n_all and n_minus == n_all - n_asia

    # plain OPTIONAL over a path-only required group (previously
    # rejected with 'OPTIONAL requires at least one plain pattern')
    row = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?x ?r ?seg WHERE { ?x inNation/inRegion ?r . "
        "OPTIONAL { ?x inSegment ?seg } }",
    )
    n_req = compile_sparql_encoded(
        spark, SF_DIR, "SELECT ?x ?r WHERE { ?x inNation/inRegion ?r }"
    ).count()
    assert row.count() == n_req  # suppliers have no segment: NULL, kept


def test_path_group_queries_lower_to_left_anti(spark):
    """The path-in-MINUS registered query keeps the single left-anti
    exclusion of the plain MINUS queries."""
    plan = (
        SPECS["q_sparql_minus_path"].fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("LeftAnti") == 1


def test_parse_numeric_aggregates():
    q = parse_sparql(
        "SELECT ?g (SUM(?x) AS ?t) (AVG(?x) AS ?m) "
        "WHERE { ?s p ?g . ?s q ?x } GROUP BY ?g"
    )
    assert [(a.fn, a.var, a.alias) for a in q.aggs] == [
        ("SUM", "x", "t"),
        ("AVG", "x", "m"),
    ]


def test_sum_avg_null_skip_semantics(spark):
    """SUM/AVG over a non-numeric variable must follow the documented
    SQL NULL-skip semantics: every term try_casts to NULL, so the
    aggregate is NULL — never a mid-job ANSI cast error."""
    from nosql_triple_store_spark.plans.sparql import (
        compile_sparql_encoded,
    )

    row = compile_sparql_encoded(
        spark,
        SF_DIR,
        'SELECT (SUM(?nm) AS ?t) WHERE { ?r hasName ?nm }',
    ).collect()
    assert len(row) == 1 and row[0].t is None


def test_sparql_numeric_agg_matches_direct_aggregation(spark):
    """The SPARQL SUM/AVG result must equal aggregating the customer
    table directly (cents encoding is floor(acctbal*100))."""
    from pyspark.sql import functions as F

    from nosql_triple_store_spark.catalog import load_table

    got = {
        r.seg: (r.total_cents, r.avg_cents, r.n)
        for r in SPECS["q_sparql_agg_numeric"].fn(spark, SF_DIR).collect()
    }
    cents = F.floor(F.col("c_acctbal") * 100).cast("long").cast("double")
    want = {
        r.seg: (r.t, r.m, r.n)
        for r in load_table(spark, SF_DIR, "customer")
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.sum(cents).alias("t"),
            F.avg(cents).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want


# ------------------------------------------- BIND / HAVING / sub-SELECT


def test_parse_bind_and_select_exprs():
    from nosql_triple_store_spark.plans.sparql import (
        ExprBin,
        ExprFunc,
        ExprNum,
        ExprVar,
    )

    q = parse_sparql(
        'SELECT ?c (STRLEN(?seg) AS ?len) WHERE { ?c p ?seg . '
        'BIND(?b / 100 AS ?d) BIND(CONCAT(?seg, "-", ?c) AS ?t) }'
    )
    assert [a for a, _ in q.binds] == ["d", "t"]
    div = q.binds[0][1]
    assert isinstance(div, ExprBin) and div.op == "/"
    assert isinstance(div.left, ExprVar) and isinstance(div.right, ExprNum)
    cc = q.binds[1][1]
    assert isinstance(cc, ExprFunc) and cc.fn == "CONCAT" and len(cc.args) == 3
    assert q.select_exprs[0][0] == "len"
    # precedence: 1 + 2 * 3 parses as 1 + (2 * 3)
    q2 = parse_sparql("SELECT ?x WHERE { ?x p ?y . BIND(1 + 2 * 3 AS ?z) }")
    e = q2.binds[0][1]
    assert e.op == "+" and isinstance(e.right, ExprBin) and e.right.op == "*"


def test_parse_having():
    from nosql_triple_store_spark.plans.sparql import Agg, ExprNum

    q = parse_sparql(
        "SELECT ?s (COUNT(*) AS ?n) WHERE { ?c p ?s } GROUP BY ?s "
        "HAVING(?n >= 10 && SUM(?b) > 0) ORDER BY ?s"
    )
    h = q.having[0]
    assert h.op == "&&"
    assert h.left.op == ">=" and isinstance(h.left.right, ExprNum)
    assert isinstance(h.right.left, Agg) and h.right.left.fn == "SUM"


def test_parse_subselect():
    q = parse_sparql(
        "SELECT ?nm ?n WHERE { ?nt hasName ?nm . "
        "{ SELECT ?nt (COUNT(*) AS ?n) WHERE { ?c inNation ?nt } "
        "GROUP BY ?nt } } ORDER BY ?nm"
    )
    assert len(q.subselects) == 1
    sub = q.subselects[0]
    assert sub.group_by == ["nt"] and sub.aggs[0].alias == "n"
    assert q.order_by == [("nm", False)]


@pytest.mark.parametrize(
    "bad",
    [
        # HAVING without aggregates
        "SELECT ?s WHERE { ?s p ?o } HAVING(?s > 1)",
        # aggregate inside BIND
        "SELECT ?s WHERE { ?s p ?o . BIND(COUNT(?o) AS ?n) }",
        # duplicate BIND alias
        "SELECT ?s WHERE { ?s p ?o . BIND(1 AS ?x) BIND(2 AS ?x) }",
        # SELECT * with expressions
        "SELECT * (STRLEN(?s) AS ?l) WHERE { ?s p ?o }",
        # expressions mixed with aggregates
        "SELECT (STRLEN(?s) AS ?l) (COUNT(*) AS ?n) WHERE { ?s p ?o }",
        # bad HAVING operand
        "SELECT ?s (COUNT(*) AS ?n) WHERE { ?s p ?o } GROUP BY ?s "
        "HAVING(?n ~ 3)",
        # SUBSTR with non-literal start
        "SELECT ?s WHERE { ?s p ?o . BIND(SUBSTR(?o, ?s) AS ?x) }",
        # unterminated subselect
        "SELECT ?s WHERE { { SELECT ?s WHERE { ?s p ?o } }",
        # ASK as subquery -> parse error (no modifiers allowed)
        "SELECT ?s WHERE { { ASK { ?s p ?o } } }",
    ],
)
def test_rejects_bad_bind_having_subselect(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_bind_rebinding_pattern_var_raises(spark):
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    with pytest.raises(ValueError, match="already bound"):
        compile_sparql_encoded(
            spark, SF_DIR,
            "SELECT ?c WHERE { ?c inSegment ?seg . BIND(1 AS ?seg) }",
        ).collect()


def test_bind_over_unbound_var_raises(spark):
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    with pytest.raises(ValueError, match="unbound"):
        compile_sparql_encoded(
            spark, SF_DIR,
            "SELECT ?c WHERE { ?c inSegment ?seg . BIND(?nope AS ?x) }",
        ).collect()


def test_having_over_ungrouped_var_raises(spark):
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    with pytest.raises(ValueError, match="neither grouped"):
        compile_sparql_encoded(
            spark, SF_DIR,
            "SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c inSegment ?seg } "
            "GROUP BY ?seg HAVING(?c > 3)",
        ).collect()


def test_filter_on_bind_alias_runs_post_decode(spark):
    """A FILTER over a BIND alias must apply (post-decode path) and
    not be mistaken for an encodable pattern-var filter."""
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    rows = compile_sparql_encoded(
        spark, SF_DIR,
        'SELECT ?c ?u WHERE { ?c inSegment ?seg . '
        'BIND(UCASE(?seg) AS ?u) FILTER(?u = "BUILDING") }',
    ).collect()
    assert rows and all(r.u == "BUILDING" for r in rows)


def test_subselect_shares_no_var_is_cross_product(spark):
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    rows = compile_sparql_encoded(
        spark, SF_DIR,
        "SELECT ?rn ?n WHERE { ?r hasName ?rn . ?nt inRegion ?r . "
        "{ SELECT (COUNT(*) AS ?n) WHERE { ?c inSegment ?s } } }",
    ).collect()
    assert rows and len({r.n for r in rows}) == 1  # one global count


def test_having_hidden_agg_not_in_output(spark):
    df = SPECS["q_sparql_having"].fn(spark, SF_DIR)
    assert df.columns == ["seg", "n", "total_cents"]


# ------------------------------- negated paths / CONSTRUCT / ASK-path


def test_parse_negated_property_set():
    from nosql_triple_store_spark.plans.sparql import PathNeg

    q = parse_sparql("SELECT ?s ?o WHERE { ?s !(p|q) ?o }")
    assert q.patterns[0][1] == PathNeg(("p", "q"))
    q2 = parse_sparql("SELECT ?s ?o WHERE { ?s !p ?o }")
    assert q2.patterns[0][1] == PathNeg(("p",))


def test_parse_construct():
    q = parse_sparql(
        "CONSTRUCT { ?n partOf ?r } WHERE { ?n inRegion ?r } LIMIT 7"
    )
    assert len(q.construct) == 1 and q.limit == 7
    assert not q.select and not q.ask


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT ?s WHERE { ?s !(^p) ?o }",  # inverse in negated set
        "SELECT ?s WHERE { ?s !(p|?v) ?o }",  # var in negated set
        "CONSTRUCT { ?s p+ ?o } WHERE { ?s p ?o }",  # path in template
        "CONSTRUCT { } WHERE { ?s p ?o }",  # empty template
        "CONSTRUCT { ?s p ?o } WHERE { ?s p ?o } ORDER BY ?s",
    ],
)
def test_rejects_bad_negated_construct(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_construct_unbound_template_var_raises(spark):
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    with pytest.raises(ValueError, match="not bound"):
        compile_sparql_encoded(
            spark, SF_DIR,
            "CONSTRUCT { ?n partOf ?nope } WHERE { ?n inRegion ?r }",
        ).collect()


def test_construct_optional_miss_drops_instantiation(spark):
    """An OPTIONAL-miss row instantiates the template triples whose
    vars bound, and drops the ones whose vars are NULL (spec rule)."""
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    rows = compile_sparql_encoded(
        spark, SF_DIR,
        # inSegment never binds for region subjects
        "CONSTRUCT { ?r labeled ?nm . ?r seg ?s } "
        "WHERE { ?r hasName ?nm . OPTIONAL { ?r inSegment ?s } }",
    ).collect()
    preds = {r.p for r in rows}
    assert "labeled" in preds
    assert all(r.o is not None for r in rows)


def test_parse_offset_and_reject_unordered():
    q = parse_sparql(
        "SELECT ?s WHERE { ?s p ?o } ORDER BY ?s LIMIT 10 OFFSET 5"
    )
    assert q.limit == 10 and q.offset == 5
    with pytest.raises(ValueError, match="OFFSET"):
        parse_sparql("SELECT ?s WHERE { ?s p ?o } OFFSET 5")
    with pytest.raises(ValueError, match="OFFSET"):
        parse_sparql("SELECT ?s WHERE { ?s p ?o } ORDER BY ?s OFFSET x")


def test_offset_slices_the_ordered_sequence(spark):
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    full = compile_sparql_encoded(
        spark, SF_DIR,
        "SELECT ?nm WHERE { ?n hasName ?nm . ?n inRegion ?r } ORDER BY ?nm",
    ).collect()
    page = compile_sparql_encoded(
        spark, SF_DIR,
        "SELECT ?nm WHERE { ?n hasName ?nm . ?n inRegion ?r } "
        "ORDER BY ?nm LIMIT 4 OFFSET 3",
    ).collect()
    assert [r.nm for r in page] == [r.nm for r in full[3:7]]


# --- round-9 everyday-SELECT closers: COUNT(DISTINCT), IN, string preds ---


def test_parse_count_distinct():
    q = parse_sparql(
        "SELECT ?g (COUNT(DISTINCT ?x) AS ?n) WHERE { ?x p ?g } GROUP BY ?g"
    )
    a = q.aggs[0]
    assert (a.fn, a.var, a.alias, a.distinct) == ("COUNT", "x", "n", True)


def test_parse_filter_in_and_string_predicates():
    q = parse_sparql(
        'SELECT ?s ?o WHERE { ?s p ?o . FILTER(?o IN ("a", "b")) '
        'FILTER(?o NOT IN ("c")) '
        'FILTER(STRSTARTS(?o, "a") || CONTAINS(?o, "x") '
        '|| STRENDS(?o, "z")) }'
    )
    o = ExprVar("o")
    assert q.filters[0] == ExprIn(o, ("a", "b"))
    assert q.filters[1] == ExprNot(ExprIn(o, ("c",)))
    assert q.filters[2] == ExprBin(
        "||",
        ExprBin(
            "||",
            ExprFunc("STRSTARTS", (o, ExprStr("a"))),
            ExprFunc("CONTAINS", (o, ExprStr("x"))),
        ),
        ExprFunc("STRENDS", (o, ExprStr("z"))),
    )


@pytest.mark.parametrize(
    "bad",
    [
        # DISTINCT under non-COUNT aggregates stays rejected
        "SELECT (SUM(DISTINCT ?x) AS ?s) WHERE { ?x p ?g }",
        "SELECT (COUNT(DISTINCT *) AS ?n) WHERE { ?x p ?g }",
        # IN needs a ?var lhs and string-literal entries
        'SELECT ?s WHERE { ?s p ?o . FILTER("a" IN ("b")) }',
        "SELECT ?s WHERE { ?s p ?o . FILTER(?o IN (1, 2)) }",
        "SELECT ?s WHERE { ?s p ?o . FILTER(?o IN ()) }",
        'SELECT ?s WHERE { ?s p ?o . FILTER(?o NOT LIKE "a") }',
        # string predicates need (?var, "literal")
        'SELECT ?s WHERE { ?s p ?o . FILTER(CONTAINS("a", "b")) }',
        "SELECT ?s WHERE { ?s p ?o . FILTER(STRSTARTS(?o, ?o)) }",
    ],
)
def test_rejects_bad_in_and_string_predicates(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_parse_replace_strbefore_strafter():
    q = parse_sparql(
        'SELECT ?a WHERE { ?s p ?o . '
        'BIND(REPLACE(?o, "a", "b") AS ?a) '
        'BIND(STRBEFORE(?o, ":") AS ?b) '
        'BIND(STRAFTER(?o, ":") AS ?c) }'
    )
    assert [alias for alias, _ in q.binds] == ["a", "b", "c"]


@pytest.mark.parametrize(
    "bad",
    [
        # REPLACE pattern/replacement must be string literals, arity 3
        'SELECT ?a WHERE { ?s p ?o . BIND(REPLACE(?o, ?o, "b") AS ?a) }',
        'SELECT ?a WHERE { ?s p ?o . BIND(REPLACE(?o, "a") AS ?a) }',
        # STRBEFORE/STRAFTER need a non-empty literal separator
        'SELECT ?a WHERE { ?s p ?o . BIND(STRBEFORE(?o, "") AS ?a) }',
        'SELECT ?a WHERE { ?s p ?o . BIND(STRAFTER(?o, ?o) AS ?a) }',
    ],
)
def test_rejects_bad_string_functions(bad):
    with pytest.raises(ValueError):
        parse_sparql(bad)


def test_strbefore_strafter_preserve_unbound(spark):
    """ADVICE r9: STRBEFORE/STRAFTER over an unbound OPTIONAL var must
    leave the BIND alias unbound (NULL), not coerce it to '' — SPARQL
    1.1 raises a type error on unbound args, so BOUND(?alias) must be
    false. ?seg never binds on nation subjects (customers-only
    predicate)."""
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    rows = compile_sparql_encoded(
        spark,
        SF_DIR,
        'SELECT ?nm ?b ?a WHERE { ?n hasName ?nm . '
        "OPTIONAL { ?n inSegment ?seg } "
        'BIND(STRBEFORE(?seg, "_") AS ?b) '
        'BIND(STRAFTER(?seg, "_") AS ?a) '
        'FILTER(REGEX(?nm, "^NATION_")) } LIMIT 5',
    ).collect()
    assert rows
    for r in rows:
        assert r["b"] is None and r["a"] is None
    # bound input still follows the spec: hit -> split, miss -> ''
    rows2 = compile_sparql_encoded(
        spark,
        SF_DIR,
        'SELECT ?nm ?b ?m WHERE { ?n hasName ?nm . '
        'BIND(STRBEFORE(?nm, "_") AS ?b) '
        'BIND(STRAFTER(?nm, "x") AS ?m) '
        'FILTER(REGEX(?nm, "^NATION_")) } LIMIT 5',
    ).collect()
    for r in rows2:
        assert r["b"] == "NATION" and r["m"] == ""


def test_minus_and_groupby_noagg_over_union(spark):
    """Round 10: MINUS / NOT EXISTS compose over UNION groups (same
    shared-var anti-join as the conjunctive case), and GROUP BY with
    no aggregates returns one row per group."""
    from nosql_triple_store_spark.plans.sparql import compile_sparql_encoded

    minus = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?m ?n WHERE { { ?m inSegment ?n } UNION "
        '{ ?m inNation ?n } MINUS { ?m inSegment "BUILDING" } }',
    ).collect()
    assert minus
    # no surviving row may belong to a BUILDING customer
    building = {
        r["m"]
        for r in compile_sparql_encoded(
            spark, SF_DIR, 'SELECT ?m WHERE { ?m inSegment "BUILDING" }'
        ).collect()
    }
    assert not ({r["m"] for r in minus} & building)

    groups = compile_sparql_encoded(
        spark,
        SF_DIR,
        "SELECT ?n ?s WHERE { ?c inNation ?n . ?c inSegment ?s } "
        "GROUP BY ?n ?s",
    ).collect()
    assert groups
    assert len(groups) == len({(r["n"], r["s"]) for r in groups})


def test_encoded_store_follows_rewritten_source(spark, tmp_path):
    """The encoded store is keyed by its source tables' fingerprints: after
    customer.parquet is rewritten, SPARQL answers from the new rows."""
    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)
    text = "SELECT ?p ?o WHERE { customer:1 ?p ?o }"

    def segment():
        rows = compile_sparql_encoded(spark, str(sf), text).collect()
        return {r["o"] for r in rows if r["p"] == "inSegment"}

    path = sf / "customer.parquet"
    t = pq.read_table(path)
    (old,) = segment()
    assert old != "REWRITTEN"
    seg = t.column("c_mktsegment")
    new_seg = pc.if_else(
        pc.equal(t.column("c_custkey"), 1),
        pa.scalar("REWRITTEN", seg.type),
        seg,
    )
    idx = t.schema.get_field_index("c_mktsegment")
    pq.write_table(t.set_column(idx, t.schema.field(idx), new_seg), path)
    assert segment() == {"REWRITTEN"}
