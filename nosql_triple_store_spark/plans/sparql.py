"""SPARQL front-end: the one execution path for triple patterns. Every
registered triple-pattern query is SPARQL text compiled here to a plan
over the dictionary-encoded store.

Scope (documented subset, rejected loudly outside it):
- ``SELECT ?v ... | *``, ``WHERE { ... }``
- conjunctive triple patterns ``?s p o .`` (constants as bare words,
  ``"literals"``, or ``<iris>``; variables as ``?name``)
- ``OPTIONAL { ... }`` blocks (left joins after every required pattern)
- ``FILTER(expr)`` over the expression grammar below: comparisons
  ``=, !=, <, <=, >, >=``, ``&&`` / ``||`` / ``!`` with parentheses,
  ``REGEX(?v, "pat")``, the string predicates
  ``CONTAINS/STRSTARTS/STRENDS(?v, "lit")``, ``BOUND(?v)``, and list
  membership ``?v IN ("a", ...)`` / ``?v NOT IN ("a", ...)``
  (string-literal lists, lowered to scan-local isin predicates like
  VALUES)
- ``ORDER BY ?v [DESC(?v)]``, ``LIMIT n``, ``OFFSET k`` (requires
  ORDER BY), ``DISTINCT``
- aggregates ``(COUNT(*)|COUNT(?v)|COUNT(DISTINCT ?v)|MIN(?v)|MAX(?v)
  |SUM(?v)|AVG(?v)|GROUP_CONCAT(?v [; SEPARATOR="s"])|SAMPLE(?v) AS
  ?alias)`` with ``GROUP BY ?v ...`` (DISTINCT under other aggregates
  rejected) — SUM/AVG try_cast the string terms to double and skip
  non-numeric ones (SQL NULL-skip semantics; documented deviation from
  SPARQL 1.1 error propagation); GROUP_CONCAT SORTS its values for
  determinism (SPARQL leaves the order undefined) and SAMPLE is the
  deterministic MIN (a conforming choice)
- ``{ group } UNION { group } [UNION ...]`` at the top of WHERE — bag
  union (UNION ALL) of conjunctive groups binding IDENTICAL variable
  sets (SPARQL's unbound-column semantics are rejected, not guessed);
  OPTIONAL and MINUS compose over the union (leftjoin(union(A, B), C),
  the spec's group semantics)
- ``ASK { ... }`` (boolean existence, LIMIT-1 plan) and
  ``VALUES ?v { "lit" ... }`` inline bindings (single variable,
  encoded to an IN-list filter pushed into the join pipeline)
- property paths in the predicate position: sequence ``p/q``,
  alternation ``p|q``, inverse ``^p``, one-or-more ``p+`` (semi-naive
  closure), zero-or-more ``p*`` (closure plus zero-length pairs scoped
  to nodes incident to the path's relation — the spec's
  all-graph-terms zero-length universe is out of scope), and
  ``( path )`` grouping — compiled as relational path algebra over the
  encoded store; paths compose with OPTIONAL / UNION / MINUS /
  NOT-EXISTS groups (each group compiles plain and path patterns
  through the same per-pattern lowering)
- ``MINUS { ... }`` (anti-join on shared variables; no-op when the
  group shares none, per SPARQL 1.1 §8.3) and
  ``FILTER NOT EXISTS { ... }`` (anti-join on shared variables; with
  none shared, removes everything iff the group matches at all) —
  conjunctive groups only, not combinable with UNION
- ``BIND(expr AS ?alias)`` and SELECT expressions ``(expr AS ?alias)``
  — post-decode column extensions, evaluated after the group join
  (textual order)
- ``HAVING(expr)`` constraints over aggregate aliases, grouped
  variables and anonymous aggregate calls (hidden agg columns,
  projected away)
- ``{ SELECT ... }`` sub-queries (one nesting level per group body,
  recursion handles deeper nesting), joined to the outer group on
  shared variables over decoded terms; OPTIONAL/MINUS/NOT EXISTS/
  VALUES still require outer triple patterns. A shared variable that
  is OPTIONAL-bound on either side is REJECTED loudly: an inner join
  drops NULL-bound rows, whereas SPARQL treats unbound as compatible
  — rejecting beats silently deviating
- negated property sets ``!p`` / ``!(p|q|...)`` (forward-only; one
  pushed-down NOT-IN scan predicate over encoded ids)
- ``CONSTRUCT { template } WHERE { ... } [LIMIT n]`` — graph output
  (s, p, o), set semantics, OPTIONAL-miss instantiations dropped;
  and ``ASK`` bodies compose with property paths
- ``ORDER BY`` keys may be ``?var``, ``ASC(expr)/DESC(expr)``, a
  function call (``STRLEN(?v)`` …) or a parenthesised expression; every
  variable in a sort expression must appear in the projected result
  (loud rejection otherwise)
- ``GRAPH ?g { ... }`` / ``GRAPH <iri> { ... }`` + ``FROM NAMED``:
  named-graph groups over the graph-partitioned quad layout
  (plans/quads.py — the dataset's entity families as named graphs).
  GRAPH groups take plain conjunctive patterns (no paths/OPTIONAL
  inside) and join the rest of the query on shared variables over
  decoded terms; a constant graph prunes ``g=`` partitions at the
  scan, ``FROM NAMED`` restricts which graphs a ``GRAPH ?g`` ranges
  over. Plain ``FROM`` makes the DEFAULT graph the merge of the listed
  graphs: one broadcast semi-join restricts the encoded relation by
  subject-derived graph (``quads.graph_of``), so patterns, paths,
  OPTIONAL and MINUS all compose; with no FROM, the default graph is
  the full triples view.
- SPARQL UPDATE subset, via :func:`parse_sparql_update` /
  :func:`compile_sparql_update`: ``INSERT DATA { triples }`` (the
  reference's R2 LWW-register upsert per (s, p) key — the new object
  REPLACES any existing objects of that key,
  SQLite3DBConnector.py:48-119), ``DELETE DATA { triples }``
  (exact-triple removal), ``DELETE WHERE { pattern }`` (single triple
  pattern; every matching triple removed), template forms ``[DELETE
  { tmpl }] [INSERT { tmpl }] WHERE { patterns }`` (the WHERE
  solutions instantiate the templates against the CURRENT state;
  insertion follows SPARQL 1.1 §3.1.3 GRAPH SET semantics), ``WITH`` /
  ``USING`` dataset scoping, ``CLEAR``/``DROP`` (``GRAPH <g>`` or
  ``ALL``) and ``LOAD <doc> [INTO GRAPH <g>]`` (R19's bulk TSV load as
  a SPARQL graph union), sequenced with ``;`` in textual order. The
  compiler returns the POST-UPDATE STATE as a DataFrame (the engine's
  storage is immutable parquet — updates are state transformations,
  exactly q_upsert_result's contract). Everything else of SPARQL Update
  (USING NAMED, GRAPH-qualified data, CLEAR/DROP DEFAULT/NAMED) is
  rejected loudly.

One expression grammar serves FILTER, HAVING, BIND, IF, SELECT
expressions and ORDER BY keys, with SPARQL 1.1 precedence (loosest
first): ``||``, then ``&&``, then one comparison or ``[NOT] IN``, then
``+ -``, then ``* /``, then unary ``!``, then primaries (``?var``,
literals, numbers, function calls, ``( expr )``). So ``a || b && c``
is ``a || (b && c)``. Aggregate calls are primaries only inside HAVING.
One compiler (``_expr_col``) lowers every expression over the DECODED
(string) bindings with one comparison rule: numeric (``try_cast`` to
double, NULL for non-numeric terms) when either side is a number
literal, an arithmetic result or an aggregate, string collation
otherwise. Arithmetic always runs over ``try_cast`` doubles; string
functions and IF/COALESCE branches evaluate in string context. A FILTER
that is exactly one ``=``/``!=`` between a pattern variable and a
string literal runs encoded instead: the literal is looked up in the
dictionary and compared as a long inside the join pipeline.

String-context numeric lexical forms: integer-valued numeric LITERALS
render in integer form ("1", not "1.0") inside CONCAT/STR/…; the RESULT
of an arithmetic expression is a double and keeps the double lexical
form ("2.0") when stringified — documented deviation (SPARQL integer
arithmetic would stay integer), same family as the SUM/AVG NULL-skip
note above.

Execution strategy (S2RDF, PAPERS.md): pattern constants are looked
up in the dictionary ONCE (driver-side, k terms), the conjunctive join
runs entirely in dictionary-encoded long space over the
``bgp_encoded_store`` layout (operators/bgp_queries.py), and only
the final bindings pay string decode. Every pattern kind (triple, path
endpoint, GRAPH quad) binds its terms through ``bgp.bind_terms`` and
every group joins through ``bgp.natural_join``; each conjunctive group
lowers through one rule (``compile_group``) and every OPTIONAL
left-joins after all required patterns. The parser adds zero runtime
surface, it only CONSTRUCTS the DataFrame graph, so everything SCALE.md
says about BGP joins applies verbatim. DESCRIBE is the one form that
reads the string-space triples view.

Reference parity: the reference's query surface is one HTTP endpoint
per fixed pattern shape (MasterServer.py:292-330 routes
subject-keyed GETs); this module supersedes it with the standard RDF
query text instead of bespoke endpoints.
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass, field, replace
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bgp import (
    Term,
    Var,
    bind_terms,
    compile_bgp,
    natural_join,
    term_conditions,
    triples_view,
)
from .quads import graph_of, quad_layout
from ..materialize import lazy_cut, materialize, semi_naive

# rounds of `p+`/`p*` closure before it raises: a relation whose shortest
# paths are at most this many hops converges
CLOSURE_ROUND_CAP = 12

_TOKEN = re.compile(
    r"""
    \s*(?:
      (?P<string>"(?:[^"\\]|\\.)*")
    | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<iri><[^>]*>)
    | (?P<num>[0-9]+\.[0-9]+)
    | (?P<punct>&&|\|\||!=|<=|>=|[{}().=<>*,/|+^!;-])
    | (?P<word>[A-Za-z_][A-Za-z0-9_:]*|[0-9]+)
    )""",
    re.VERBOSE,
)


def tokenize(text: str) -> list[str]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip():
                raise ValueError(
                    f"SPARQL tokenizer: unexpected input at {text[pos:pos+20]!r}"
                )
            break
        out.append(m.group().strip())
        pos = m.end()
    return out


@dataclass(frozen=True)
class PathPred:
    name: str


@dataclass(frozen=True)
class PathInv:
    inner: object


@dataclass(frozen=True)
class PathSeq:
    left: object
    right: object


@dataclass(frozen=True)
class PathAlt:
    left: object
    right: object


@dataclass(frozen=True)
class PathPlus:
    inner: object


@dataclass(frozen=True)
class PathStar:
    inner: object


@dataclass(frozen=True)
class PathNeg:
    """Negated property set !p / !(p|q|...): any triple whose predicate
    is NOT in the set (forward direction only — ^ inside a negated set
    is rejected loudly)."""

    names: tuple


_PATH_TYPES = (PathPred, PathInv, PathSeq, PathAlt, PathPlus, PathStar, PathNeg)


def _path_preds(path) -> set[str]:
    if isinstance(path, PathPred):
        return {path.name}
    if isinstance(path, PathNeg):
        return set(path.names)
    if isinstance(path, (PathInv, PathPlus, PathStar)):
        return _path_preds(path.inner)
    return _path_preds(path.left) | _path_preds(path.right)


@dataclass(frozen=True)
class Agg:
    """One aggregate call: (FN(?var) AS ?alias) in SELECT, or an
    anonymous call inside HAVING (alias ``__hN``, a hidden column)."""

    fn: str  # COUNT | MIN | MAX | SUM | AVG | GROUP_CONCAT | SAMPLE
    var: str | None  # None for COUNT(*)
    alias: str
    sep: str = " "  # GROUP_CONCAT separator (SPARQL default: space)
    distinct: bool = False  # COUNT(DISTINCT ?v) only


# --- expression AST (FILTER, HAVING, BIND, IF, SELECT expressions,
# ORDER BY keys) ---
@dataclass(frozen=True)
class ExprVar:
    name: str


@dataclass(frozen=True)
class ExprStr:
    value: str


@dataclass(frozen=True)
class ExprNum:
    value: float  # integer-valued floats stay exact


@dataclass(frozen=True)
class ExprFunc:
    fn: str  # one of _EXPR_FUNCS
    args: tuple


@dataclass(frozen=True)
class ExprBin:
    op: str  # a key of _BINOPS
    left: object
    right: object


@dataclass(frozen=True)
class ExprNot:
    arg: object


@dataclass(frozen=True)
class ExprIn:
    """``arg IN ("lit", ...)``; NOT IN is ExprNot(ExprIn(...))."""

    arg: object
    values: tuple


# The one operator table: logical, comparison and arithmetic.
_BINOPS = {
    "||": operator.or_,
    "&&": operator.and_,
    "=": operator.eq,
    "!=": operator.ne,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
    "+": operator.add,
    "-": operator.sub,
    "*": operator.mul,
    "/": operator.truediv,
}
_COMPARISONS = ("=", "!=", "<", "<=", ">", ">=")
_ARITH = ("+", "-", "*", "/")
_BOOL_FUNCS = ("REGEX", "CONTAINS", "STRSTARTS", "STRENDS", "BOUND")
_EXPR_FUNCS = (
    "CONCAT",
    "UCASE",
    "LCASE",
    "STRLEN",
    "SUBSTR",
    "STR",
    "COALESCE",
    "REPLACE",
    "STRBEFORE",
    "STRAFTER",
    "IF",
    *_BOOL_FUNCS,
)
_AGG_FNS = ("COUNT", "MIN", "MAX", "SUM", "AVG", "GROUP_CONCAT", "SAMPLE")


def _is_bool(e) -> bool:
    """True iff the expression is boolean-valued (the subset has no
    effective-boolean-value coercion of terms)."""
    if isinstance(e, ExprBin):
        return e.op in ("||", "&&", *_COMPARISONS)
    if isinstance(e, ExprFunc):
        return e.fn in _BOOL_FUNCS
    return isinstance(e, (ExprNot, ExprIn))


def _is_numeric(e) -> bool:
    """Operands that make a comparison numeric: a number literal, an
    arithmetic result or an aggregate."""
    return isinstance(e, (ExprNum, Agg)) or (
        isinstance(e, ExprBin) and e.op in _ARITH
    )


def _expr_nodes(e):
    """Every node of an expression tree, pre-order. An Agg is a leaf:
    its variable is bound before aggregation, not after."""
    yield e
    if isinstance(e, ExprBin):
        children = (e.left, e.right)
    elif isinstance(e, (ExprNot, ExprIn)):
        children = (e.arg,)
    elif isinstance(e, ExprFunc):
        children = e.args
    else:
        children = ()
    for c in children:
        yield from _expr_nodes(c)


def _expr_vars(e) -> set[str]:
    return {n.name for n in _expr_nodes(e) if isinstance(n, ExprVar)}


@dataclass
class SparqlQuery:
    select: list[str]  # variable names, or ["*"]
    distinct: bool
    patterns: list[tuple[Term, Term, Term]]
    optionals: list[tuple[Term, Term, Term]] = field(default_factory=list)
    # FILTER(...) expressions, ANDed across FILTERs
    filters: list[object] = field(default_factory=list)
    # (key, desc) where key is a variable NAME (str) or an expression
    # AST
    order_by: list[tuple[object, bool]] = field(default_factory=list)
    limit: int | None = None
    # OFFSET k: skip the first k solutions (pagination); requires
    # ORDER BY so the skipped prefix is well-defined
    offset: int | None = None
    aggs: list[Agg] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    ask: bool = False
    values: list[tuple[str, list[str]]] = field(default_factory=list)
    # N>=2 alternative conjunctive groups ({A} UNION {B}); exclusive
    # with top-level `patterns`
    unions: list[list[tuple[Term, Term, Term]]] = field(
        default_factory=list
    )
    # MINUS { ... } groups: anti-join on SHARED vars; no-op when the
    # group shares no variable (SPARQL 1.1 §8.3)
    minus: list[list[tuple[Term, Term, Term]]] = field(
        default_factory=list
    )
    # FILTER NOT EXISTS { ... } groups: anti-join on shared vars; with
    # NO shared vars, removes everything iff the group matches at all
    not_exists: list[list[tuple[Term, Term, Term]]] = field(
        default_factory=list
    )
    # BIND(expr AS ?alias) statements, textual order (later binds may
    # reference earlier aliases)
    binds: list[tuple[str, object]] = field(default_factory=list)
    # (expr AS ?alias) SELECT items — projected after the plain vars
    select_exprs: list[tuple[str, object]] = field(default_factory=list)
    # HAVING(...) expressions (may contain anonymous Agg calls), ANDed
    having: list[object] = field(default_factory=list)
    # { SELECT ... } sub-queries, joined to the group on shared vars
    subselects: list["SparqlQuery"] = field(default_factory=list)
    # CONSTRUCT template triples (graph output: s, p, o string columns,
    # set semantics); exclusive with select/aggs/ask
    construct: list[tuple[Term, Term, Term]] = field(default_factory=list)
    # GRAPH term { patterns } groups: term is Var or a graph name (str);
    # patterns are plain conjunctive triples over the quad layout
    graphs: list[tuple[Term, list[tuple[Term, Term, Term]]]] = field(
        default_factory=list
    )
    # FROM NAMED <g> dataset clause: restricts the named-graph universe
    from_named: list[str] = field(default_factory=list)
    # plain FROM <g> clauses: the DEFAULT graph becomes the merge of
    # the listed graphs — non-GRAPH patterns (and paths, OPTIONALs,
    # MINUS groups...) evaluate over that restriction only
    from_default: list[str] = field(default_factory=list)
    # DESCRIBE form: constant resource iris (no WHERE), or one variable
    # whose WHERE-solution bindings are the described resources
    describe_iris: list[str] = field(default_factory=list)
    describe_var: str | None = None


class _Parser:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0
        # hidden HAVING aggregates named so far in the current query's
        # HAVING clauses; None where aggregate calls are not expressions
        self.hidden: int | None = None

    def peek(self, k: int = 0) -> str | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise ValueError("SPARQL parser: unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, want: str) -> None:
        t = self.next()
        if t.upper() != want.upper():
            raise ValueError(f"SPARQL parser: expected {want!r}, got {t!r}")

    # ---- grammar ----
    def query(self, inner: bool = False) -> SparqlQuery:
        if (self.peek() or "").upper() == "ASK":
            self.next()
            if (self.peek() or "").upper() == "WHERE":
                self.next()
            self.expect("{")
            q = SparqlQuery(select=[], distinct=False, patterns=[])
            q.ask = True
            self._where_body(q)
            if self.peek() is not None:
                raise ValueError(
                    f"ASK takes no solution modifiers, got {self.peek()!r}"
                )
            self._validate(q)
            return q
        if (self.peek() or "").upper() == "DESCRIBE":
            # DESCRIBE <iri> [<iri> ...]  |  DESCRIBE ?v WHERE { ... }
            # — graph output: every triple where a described resource
            # is subject or object (q_sparql_describe's neighborhood
            # semantics), set-deduped (a graph has no duplicates)
            self.next()
            q = SparqlQuery(select=[], distinct=False, patterns=[])
            while (t := self.peek()) is not None and t.startswith("<"):
                q.describe_iris.append(self.next()[1:-1])
            if (t := self.peek()) is not None and t.startswith("?"):
                if q.describe_iris:
                    raise ValueError(
                        "DESCRIBE takes either <iri> constants or one "
                        "?var, not both"
                    )
                q.describe_var = self.next()[1:]
                self.expect("WHERE")
                self.expect("{")
                self._where_body(q)
            if not q.describe_iris and q.describe_var is None:
                raise ValueError("DESCRIBE needs <iri> terms or a ?var")
            if self.peek() is not None:
                raise ValueError(
                    f"DESCRIBE takes no solution modifiers, got "
                    f"{self.peek()!r}"
                )
            if q.describe_var is not None:
                self._validate(q)
            return q
        if (self.peek() or "").upper() == "CONSTRUCT":
            self.next()
            q = SparqlQuery(select=[], distinct=False, patterns=[])
            q.construct = self.group("CONSTRUCT")
            for pat in q.construct:
                if isinstance(pat[1], _PATH_TYPES):
                    raise ValueError(
                        "CONSTRUCT templates take plain predicates, "
                        "not property paths"
                    )
            self.expect("WHERE")
            self.expect("{")
            self._where_body(q)
            while (t := self.peek()) is not None:
                if t.upper() == "LIMIT":
                    self.next()
                    n = self.next()
                    if not n.isdigit():
                        raise ValueError(
                            f"LIMIT needs an integer, got {n!r}"
                        )
                    q.limit = int(n)
                else:
                    raise ValueError(
                        f"CONSTRUCT supports only LIMIT as a solution "
                        f"modifier, got {t!r}"
                    )
            self._validate(q)
            return q
        self.expect("SELECT")
        distinct = False
        if (self.peek() or "").upper() == "DISTINCT":
            self.next()
            distinct = True
        select: list[str] = []
        aggs: list[Agg] = []
        select_exprs: list[tuple[str, object]] = []
        while True:
            t = self.peek()
            if t is None:
                raise ValueError("SPARQL parser: missing WHERE")
            if t == "*":
                self.next()
                select = ["*"]
                break
            if t.startswith("?"):
                select.append(self.next()[1:])
                continue
            if t == "(":  # (AGG(?v) AS ?alias) or (expr AS ?alias)
                self.next()
                is_agg = (self.peek() or "").upper() in _AGG_FNS
                if is_agg and self.peek(1) == "(":
                    item = self._agg_call()
                else:
                    item = self.expr()
                self.expect("AS")
                alias = self.next()
                if not alias.startswith("?"):
                    raise ValueError("SELECT item alias must be a ?var")
                if isinstance(item, Agg):
                    aggs.append(replace(item, alias=alias[1:]))
                else:
                    select_exprs.append((alias[1:], item))
                self.expect(")")
                continue
            break
        if not select and not aggs and not select_exprs:
            raise ValueError("SPARQL parser: empty SELECT list")
        from_named: list[str] = []
        from_default: list[str] = []
        while (self.peek() or "").upper() == "FROM":
            self.next()
            if (self.peek() or "").upper() == "NAMED":
                self.next()
                g = self.next()
                if not g.startswith("<"):
                    raise ValueError(
                        f"FROM NAMED needs an <iri>, got {g!r}"
                    )
                from_named.append(g[1:-1])
            else:
                # plain FROM <g>: the default graph is the MERGE of the
                # listed graphs
                g = self.next()
                if not g.startswith("<"):
                    raise ValueError(f"FROM needs an <iri>, got {g!r}")
                from_default.append(g[1:-1])
        self.expect("WHERE")
        self.expect("{")
        q = SparqlQuery(select=select, distinct=distinct, patterns=[])
        q.aggs = aggs
        q.select_exprs = select_exprs
        q.from_named = from_named
        q.from_default = from_default
        self._where_body(q)
        self._modifiers(q, inner=inner)
        self._validate(q)
        return q

    def _agg_call(self) -> Agg:
        """AGG(?v|*), unaliased — shared by SELECT items (the caller
        parses ``AS ?alias``) and HAVING expressions."""
        fn = self.next().upper()
        if fn not in _AGG_FNS:
            raise ValueError(
                f"unsupported aggregate {fn!r} "
                "(COUNT/MIN/MAX/SUM/AVG/GROUP_CONCAT/SAMPLE)"
            )
        self.expect("(")
        distinct = False
        if (self.peek() or "").upper() == "DISTINCT":
            # DISTINCT inside an aggregate: COUNT(DISTINCT ?v) only —
            # the everyday SPARQL 1.1 form; set-DISTINCT under
            # SUM/AVG/GROUP_CONCAT stays out of the documented subset
            if fn != "COUNT":
                raise ValueError(
                    f"{fn}(DISTINCT ...) is outside the subset "
                    "(COUNT(DISTINCT ?v) only)"
                )
            self.next()
            distinct = True
        a = self.next()
        if a == "*":
            if fn != "COUNT":
                raise ValueError(f"{fn}(*) is not valid SPARQL")
            if distinct:
                raise ValueError(
                    "COUNT(DISTINCT *) is outside the subset "
                    "(COUNT(DISTINCT ?v) only)"
                )
            var = None
        else:
            if not a.startswith("?"):
                raise ValueError(f"aggregate needs ?var, got {a!r}")
            var = a[1:]
        sep = " "
        if fn == "GROUP_CONCAT" and self.peek() == ";":
            self.next()
            kw = self.next()
            if kw.upper() != "SEPARATOR":
                raise ValueError(
                    f"GROUP_CONCAT modifier must be SEPARATOR, got {kw!r}"
                )
            self.expect("=")
            lit = self.next()
            if not lit.startswith('"'):
                raise ValueError("SEPARATOR needs a string literal")
            sep = _unquote(lit)
        self.expect(")")
        return Agg(fn, var, "", sep, distinct)

    def _where_body(self, q: SparqlQuery) -> None:
        while True:
            t = self.peek()
            if t is None:
                raise ValueError("SPARQL parser: unterminated WHERE block")
            if t == "}":
                self.next()
                break
            up = t.upper()
            if t == ".":
                self.next()
            elif t == "{" and (self.peek(1) or "").upper() == "SELECT":
                # { SELECT ... } sub-query: parsed recursively; its
                # modifiers stop at the closing brace
                self.next()
                q.subselects.append(self.query(inner=True))
                self.expect("}")
            elif t == "{":  # { group } UNION { group } ...
                if q.patterns or q.unions:
                    raise ValueError(
                        "UNION groups cannot mix with top-level patterns"
                    )
                groups = [self.group()]
                while (self.peek() or "").upper() == "UNION":
                    self.next()
                    groups.append(self.group())
                if len(groups) < 2:
                    raise ValueError("a braced group requires UNION")
                q.unions = groups
            elif up == "OPTIONAL":
                self.next()
                self.expect("{")
                while self.peek() != "}":
                    if self.peek() == ".":
                        self.next()
                        continue
                    q.optionals.append(self.triple())
                self.expect("}")
            elif up == "GRAPH":
                self.next()
                gt = self.next()
                if gt.startswith("?"):
                    gterm: Term = Var(gt[1:])
                elif gt.startswith("<"):
                    gterm = gt[1:-1]
                else:
                    raise ValueError(
                        f"GRAPH takes ?var or <iri>, got {gt!r}"
                    )
                pats = self.group("GRAPH")
                for pat in pats:
                    if isinstance(pat[1], _PATH_TYPES):
                        raise ValueError(
                            "property paths inside GRAPH groups are "
                            "unsupported"
                        )
                q.graphs.append((gterm, pats))
            elif up == "MINUS":
                self.next()
                q.minus.append(self.group("MINUS"))
            elif up == "FILTER":
                self.next()
                if (self.peek() or "").upper() == "NOT":
                    self.next()
                    self.expect("EXISTS")
                    q.not_exists.append(self.group("FILTER NOT EXISTS"))
                else:
                    q.filters.append(self._condition("FILTER"))
            elif up == "BIND":
                self.next()
                self.expect("(")
                expr = self.expr()
                self.expect("AS")
                v = self.next()
                if not v.startswith("?"):
                    raise ValueError("BIND alias must be a ?var")
                self.expect(")")
                q.binds.append((v[1:], expr))
            elif up == "VALUES":
                self.next()
                v = self.next()
                if not v.startswith("?"):
                    raise ValueError("VALUES needs a ?var")
                self.expect("{")
                lits = []
                while self.peek() != "}":
                    t2 = self.next()
                    if not t2.startswith('"'):
                        raise ValueError(
                            f"VALUES entries must be string literals, "
                            f"got {t2!r}"
                        )
                    lits.append(_unquote(t2))
                self.expect("}")
                if not lits:
                    raise ValueError("empty VALUES block")
                q.values.append((v[1:], lits))
            else:
                if q.unions:
                    # a triple AFTER the UNION block would be silently
                    # dropped by compile (all_groups covers unions only)
                    # — reject loudly instead of returning wrong answers
                    raise ValueError(
                        "UNION groups cannot mix with top-level patterns"
                    )
                q.patterns.append(self.triple())

    def _modifiers(self, q: SparqlQuery, inner: bool = False) -> None:
        while (t := self.peek()) is not None:
            up = t.upper()
            if inner and t == "}":
                return  # sub-SELECT: the caller consumes the brace
            if up == "HAVING":
                self.next()
                self.hidden = sum(
                    isinstance(n, Agg)
                    for e in q.having
                    for n in _expr_nodes(e)
                )
                q.having.append(self._condition("HAVING"))
                self.hidden = None
            elif up == "GROUP":
                self.next()
                self.expect("BY")
                while (nt := self.peek()) is not None and nt.startswith("?"):
                    q.group_by.append(self.next()[1:])
                if not q.group_by:
                    raise ValueError("SPARQL parser: empty GROUP BY")
            elif up == "ORDER":
                self.next()
                self.expect("BY")
                while (nt := self.peek()) is not None:
                    ntu = nt.upper()
                    if nt.startswith("?"):
                        q.order_by.append((self.next()[1:], False))
                    elif ntu in ("DESC", "ASC"):
                        desc = self.next().upper() == "DESC"
                        self.expect("(")
                        key = self.expr()
                        self.expect(")")
                        # a plain variable key is kept as its name
                        if isinstance(key, ExprVar):
                            key = key.name
                        q.order_by.append((key, desc))
                    elif nt == "(" or (
                        ntu in _EXPR_FUNCS and self.peek(1) == "("
                    ):
                        # bare expression sort key: FUNC(...) or (expr)
                        q.order_by.append((self.expr(), False))
                    else:
                        break
                if not q.order_by:
                    raise ValueError("SPARQL parser: empty ORDER BY")
            elif up == "LIMIT":
                self.next()
                n = self.next()
                if not n.isdigit():
                    raise ValueError(f"LIMIT needs an integer, got {n!r}")
                q.limit = int(n)
            elif up == "OFFSET":
                self.next()
                n = self.next()
                if not n.isdigit():
                    raise ValueError(f"OFFSET needs an integer, got {n!r}")
                q.offset = int(n)
            else:
                raise ValueError(f"SPARQL parser: trailing token {t!r}")

    def _validate(self, q: SparqlQuery) -> None:
        if (
            not q.patterns
            and not q.unions
            and not q.subselects
            and not q.graphs
        ):
            raise ValueError("SPARQL parser: WHERE block has no patterns")
        if q.from_named and not q.graphs:
            raise ValueError(
                "FROM NAMED without a GRAPH group selects nothing — "
                "add GRAPH ?g { ... }"
            )
        if q.unions and q.patterns:
            # belt-and-braces twin of the parser-side guards: unions
            # and top-level patterns are exclusive by construction
            raise ValueError(
                "UNION groups cannot mix with top-level patterns"
            )
        if q.unions:
            # OPTIONAL / MINUS / NOT EXISTS apply to the union of the
            # branches as to a conjunctive group (leftjoin(union(A, B),
            # C), SPARQL 1.1's group semantics); the only UNION-shape
            # restriction is identical bindings
            var_sets = [
                {t.name for pat in g for t in pat if isinstance(t, Var)}
                for g in q.unions
            ]
            if any(vs != var_sets[0] for vs in var_sets[1:]):
                raise ValueError(
                    f"UNION groups must bind identical variables, got "
                    f"{[sorted(v) for v in var_sets]}"
                )
        if q.aggs:
            if q.select == ["*"]:
                raise ValueError("SELECT * cannot be mixed with aggregates")
            if q.select_exprs:
                raise ValueError(
                    "SELECT expressions cannot be mixed with aggregates"
                )
            ungrouped = [v for v in q.select if v not in q.group_by]
            if ungrouped:
                raise ValueError(
                    f"non-aggregated SELECT vars {ungrouped} must appear "
                    "in GROUP BY"
                )
        elif q.group_by:
            # GROUP BY with no aggregates is legal SPARQL: one result
            # row per group. Only grouped variables may be projected,
            # same rule as the aggregate case.
            if q.select == ["*"]:
                raise ValueError(
                    "SELECT * cannot be mixed with GROUP BY"
                )
            if q.select_exprs:
                raise ValueError(
                    "SELECT expressions with aggregate-less GROUP BY "
                    "are unsupported"
                )
            ungrouped = [v for v in q.select if v not in q.group_by]
            if ungrouped:
                raise ValueError(
                    f"non-aggregated SELECT vars {ungrouped} must appear "
                    "in GROUP BY"
                )
        if q.having and not q.aggs:
            raise ValueError("HAVING requires aggregates with GROUP BY")
        if q.offset is not None and not q.order_by:
            raise ValueError(
                "OFFSET without ORDER BY skips an undefined prefix — "
                "add ORDER BY"
            )
        if q.select_exprs and q.select == ["*"]:
            raise ValueError(
                "SELECT * cannot be mixed with SELECT expressions"
            )
        seen_aliases: set[str] = set()
        for alias, _expr in q.binds + q.select_exprs:
            if alias in seen_aliases:
                raise ValueError(f"duplicate BIND/expression alias ?{alias}")
            seen_aliases.add(alias)
        if q.subselects:
            for sub in q.subselects:
                if sub.ask:
                    raise ValueError("ASK cannot appear as a sub-query")

    def term(self) -> Term:
        t = self.next()
        if t.startswith("?"):
            return Var(t[1:])
        if t.startswith('"'):
            return _unquote(t)
        if t.startswith("<"):
            return t[1:-1]
        if t in ("{", "}", "(", ")", "."):
            raise ValueError(f"SPARQL parser: expected term, got {t!r}")
        return t  # bare word constant (predicate names, curies)

    def triple(self) -> tuple[Term, Term, Term]:
        return (self.term(), self.path_or_term(), self.term())

    # --- property-path grammar (predicate position) ---
    # path := seq ('|' seq)* ; seq := step ('/' step)* ;
    # step := '^' step | primary ['+'] ; primary := pred | '(' path ')'
    def path_or_term(self):
        t = self.peek()
        if t is not None and t.startswith("?"):
            if self.peek(1) in ("/", "|", "+", "*", "^"):
                raise ValueError("variables cannot appear inside a path")
            return self.term()
        path = self._path_alt()
        if isinstance(path, PathPred):
            return path.name  # plain predicate constant
        return path

    def _path_alt(self):
        left = self._path_seq()
        while self.peek() == "|":
            self.next()
            left = PathAlt(left, self._path_seq())
        return left

    def _path_seq(self):
        left = self._path_step()
        while self.peek() == "/":
            self.next()
            left = PathSeq(left, self._path_step())
        return left

    def _path_step(self):
        if self.peek() == "^":
            self.next()
            return PathInv(self._path_step())
        prim = self._path_primary()
        if self.peek() == "+":
            self.next()
            prim = PathPlus(prim)
        elif self.peek() == "*":
            self.next()
            prim = PathStar(prim)
        return prim

    def _path_primary(self):
        t = self.next()
        if t == "!":  # negated property set: !p or !(p|q|...)
            names: list[str] = []
            if self.peek() == "(":
                self.next()
                while True:
                    names.append(self._neg_pred())
                    if self.peek() == "|":
                        self.next()
                        continue
                    break
                self.expect(")")
            else:
                names.append(self._neg_pred())
            return PathNeg(tuple(names))
        if t == "(":
            inner = self._path_alt()
            self.expect(")")
            return inner
        if t.startswith("?") or t.startswith('"'):
            raise ValueError(
                f"path elements must be predicate names, got {t!r}"
            )
        if t.startswith("<"):
            return PathPred(t[1:-1])
        if t in ("{", "}", ")", ".", "/", "|", "+", "^"):
            raise ValueError(f"expected path element, got {t!r}")
        return PathPred(t)

    def _neg_pred(self) -> str:
        t = self.next()
        if t == "^":
            raise ValueError(
                "inverse members inside a negated property set are "
                "unsupported (forward-only subset)"
            )
        if t.startswith("<"):
            return t[1:-1]
        if t.startswith("?") or t.startswith('"') or t in (
            "{", "}", "(", ")", ".", "/", "|", "+", "*", "!",
        ):
            raise ValueError(
                f"negated property sets take predicate names, got {t!r}"
            )
        return t

    def group(self, kind: str = "UNION") -> list[tuple[Term, Term, Term]]:
        self.expect("{")
        pats = []
        while self.peek() != "}":
            if self.peek() == ".":
                self.next()
                continue
            pats.append(self.triple())
        self.expect("}")
        if not pats:
            raise ValueError(f"empty {kind} group")
        return pats

    def _condition(self, clause: str):
        """``( boolean expression )`` — a FILTER or HAVING body."""
        self.expect("(")
        e = self.expr()
        self.expect(")")
        if not _is_bool(e):
            raise ValueError(f"{clause} needs a boolean expression, got {e!r}")
        return e

    # --- the expression grammar, SPARQL 1.1 precedence (loosest first):
    # or := and ('||' and)* ; and := rel ('&&' rel)* ;
    # rel := add [cmp add | [NOT] IN ("lit", ...)] ;
    # add := mul (('+'|'-') mul)* ; mul := unary (('*'|'/') unary)* ;
    # unary := '!' prim | prim ;
    # prim := ?var | "lit" | number | FUNC(expr, ...) | AGG(...)
    #         (HAVING only) | '(' expr ')'
    def expr(self):
        return self._binary(("||",), self._and)

    def _and(self):
        return self._binary(("&&",), self._rel)

    def _binary(self, ops: tuple[str, ...], operand):
        """Left-associative chain of ``ops`` over ``operand``; the
        operands of && and || must be boolean."""
        left = operand()
        while self.peek() in ops:
            op = self.next()
            right = operand()
            if op in ("&&", "||") and not (_is_bool(left) and _is_bool(right)):
                raise ValueError(f"{op} needs boolean operands")
            left = ExprBin(op, left, right)
        return left

    def _rel(self):
        left = self._add()
        t = (self.peek() or "").upper()
        if t in _COMPARISONS:
            self.next()
            return ExprBin(t, left, self._add())
        if t not in ("IN", "NOT"):
            return left
        self.next()
        if t == "NOT":
            nxt = self.next()
            if nxt.upper() != "IN":
                raise ValueError(f"expected IN after NOT, got {nxt!r}")
        if not isinstance(left, ExprVar):
            raise ValueError("IN needs a ?var left-hand side")
        e = ExprIn(left, tuple(self._in_list()))
        return ExprNot(e) if t == "NOT" else e

    def _add(self):
        return self._binary(("+", "-"), self._mul)

    def _mul(self):
        return self._binary(("*", "/"), self._unary)

    def _unary(self):
        if self.peek() != "!":
            return self._prim()
        self.next()
        arg = self._prim()
        if not _is_bool(arg):
            raise ValueError("! needs a boolean operand")
        return ExprNot(arg)

    def _in_list(self) -> list[str]:
        """(\"lit\", \"lit\", ...) after IN / NOT IN — string literals
        only, at least one, matching the VALUES literal subset."""
        self.expect("(")
        vals: list[str] = []
        while True:
            lit = self.next()
            if not lit.startswith('"'):
                raise ValueError(
                    f"IN list entries must be string literals, got {lit!r}"
                )
            vals.append(_unquote(lit))
            nxt = self.next()
            if nxt == ")":
                return vals
            if nxt != ",":
                raise ValueError(f"expected , or ) in IN list, got {nxt!r}")

    def _prim(self):
        t = self.peek()
        if (t or "").upper() in _AGG_FNS and self.peek(1) == "(":
            if self.hidden is None:
                raise ValueError(
                    f"aggregates are allowed in SELECT items and HAVING "
                    f"only (got {t.upper()})"
                )
            agg = replace(self._agg_call(), alias=f"__h{self.hidden}")
            self.hidden += 1
            return agg
        t = self.next()
        if t == "(":
            inner = self.expr()
            self.expect(")")
            return inner
        if t.startswith("?"):
            return ExprVar(t[1:])
        if t.startswith('"'):
            return ExprStr(_unquote(t))
        if re.fullmatch(r"[0-9]+(\.[0-9]+)?", t):
            return ExprNum(float(t))
        fn = t.upper()
        if fn not in _EXPR_FUNCS or self.peek() != "(":
            raise ValueError(f"expected expression, got {t!r}")
        self.next()
        args = [self.expr()]
        while self.peek() == ",":
            self.next()
            args.append(self.expr())
        self.expect(")")
        _check_call(fn, args)
        return ExprFunc(fn, tuple(args))


def _check_call(fn: str, args: list) -> None:
    """Arity and literal-argument rules of the expression functions."""
    if fn in ("UCASE", "LCASE", "STRLEN", "STR", "BOUND") and len(args) != 1:
        raise ValueError(f"{fn} takes exactly one argument")
    if fn == "BOUND" and not isinstance(args[0], ExprVar):
        raise ValueError("BOUND needs a ?var")
    if fn in ("REGEX", "CONTAINS", "STRSTARTS", "STRENDS") and (
        len(args) != 2
        or not isinstance(args[0], ExprVar)
        or not isinstance(args[1], ExprStr)
    ):
        raise ValueError(f'{fn} takes (?var, "literal")')
    if fn == "IF" and (len(args) != 3 or not _is_bool(args[0])):
        raise ValueError("IF takes (boolean condition, then, else)")
    if fn == "SUBSTR":
        if len(args) not in (2, 3):
            raise ValueError("SUBSTR takes (?v, start[, length])")
        for a in args[1:]:
            if not isinstance(a, ExprNum) or a.value != int(a.value):
                raise ValueError(
                    "SUBSTR start/length must be integer literals"
                )
    if fn == "CONCAT" and len(args) < 2:
        raise ValueError("CONCAT takes two or more arguments")
    if fn == "REPLACE":
        if len(args) != 3 or not all(
            isinstance(a, ExprStr) for a in args[1:]
        ):
            raise ValueError(
                'REPLACE takes (expr, "pattern", "replacement") '
                "with literal pattern/replacement"
            )
    if fn in ("STRBEFORE", "STRAFTER"):
        if (
            len(args) != 2
            or not isinstance(args[1], ExprStr)
            or args[1].value == ""
        ):
            raise ValueError(
                f'{fn} takes (expr, "separator") with a '
                "non-empty literal separator"
            )


def _unquote(tok: str) -> str:
    return tok[1:-1].replace('\\"', '"').replace("\\\\", "\\")


def parse_sparql(text: str) -> SparqlQuery:
    """Parse the supported SPARQL SELECT subset to a SparqlQuery."""
    return _Parser(tokenize(text)).query()


def _optional_only_vars(q: SparqlQuery) -> set[str]:
    """Variables a query can leave NULL: bound by an OPTIONAL pattern
    but by no required pattern (top-level, union, graph, or path)."""
    required = {
        t.name
        for pats in (
            [p for g in (q.unions or [q.patterns]) for p in g],
            [p for _, g in q.graphs for p in g],
        )
        for pat in pats
        for t in pat
        if isinstance(t, Var)
    }
    opt = {
        t.name
        for pat in q.optionals
        for t in pat
        if isinstance(t, Var)
    }
    return opt - required


def _path_rel(enc: DataFrame, path, cmap) -> DataFrame:
    """Relational path algebra over the encoded triples: a path
    denotes a binary relation (src, dst). Pred is a pushed-down
    constant-predicate scan; Inv swaps; Alt unions; Seq equi-joins on
    the hop; Plus is semi-naive transitive closure (frontier ⋈ base
    per round, left-anti dedup, see :func:`transitive_closure`)."""
    if isinstance(path, PathPred):
        return enc.filter(
            F.col("p") == F.lit(int(cmap[path.name]))
        ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
    if isinstance(path, PathNeg):
        # negated property set: every triple whose predicate id is NOT
        # in the set — still one pushed-down scan predicate (NOT IN of
        # k literal ids); an excluded name absent from the dictionary
        # encodes to -1, which no triple carries, excluding nothing
        return enc.filter(
            ~F.col("p").isin([int(cmap[n]) for n in path.names])
        ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
    if isinstance(path, PathInv):
        r = _path_rel(enc, path.inner, cmap)
        return r.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    if isinstance(path, PathAlt):
        return _path_rel(enc, path.left, cmap).unionByName(
            _path_rel(enc, path.right, cmap)
        )
    if isinstance(path, PathSeq):
        a = _path_rel(enc, path.left, cmap).alias("a")
        b = _path_rel(enc, path.right, cmap).alias("b")
        return a.join(b, F.col("a.dst") == F.col("b.src")).select(
            F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
        )
    if isinstance(path, PathPlus):
        return transitive_closure(
            _path_rel(enc, path.inner, cmap).distinct().transform(materialize)
        )
    if isinstance(path, PathStar):
        # zero-or-more: transitive closure UNION the zero-length pairs.
        # Documented subset semantics: zero-length matches are scoped
        # to nodes INCIDENT to the path's own relation (the SPARQL
        # spec's all-graph-terms zero-length universe is out of scope;
        # constants with no inner-path edge contribute no (c, c) row).
        base = _path_rel(enc, path.inner, cmap).distinct().transform(materialize)
        closure = transitive_closure(base)
        nodes = (
            base.select("src")
            .unionByName(base.select(F.col("dst").alias("src")))
            .distinct()
        )
        ident = nodes.select("src", F.col("src").alias("dst"))
        return closure.unionByName(ident).distinct()
    raise ValueError(f"unknown path element {path!r}")


def transitive_closure(base: DataFrame) -> DataFrame:
    """Semi-naive transitive closure of a two-column (source,
    destination) relation, in its own column names: each round joins the
    newest pairs with ``base`` and keeps the pairs not yet known, one
    count per round, at most CLOSURE_ROUND_CAP rounds. The fixpoint of
    `p+` and `p*`."""
    src, dst = base.columns

    def expand(frontier: DataFrame) -> DataFrame:
        return (
            frontier.alias("f")
            .join(base.alias("b"), F.col(f"f.{dst}") == F.col(f"b.{src}"))
            .select(F.col(f"f.{src}").alias(src), F.col(f"b.{dst}").alias(dst))
            .distinct()
        )

    return semi_naive(
        base, expand, [src, dst], cap=CLOSURE_ROUND_CAP, what="path closure"
    )


def _expr_col(e):
    """Expression AST -> Column over the DECODED (string) bindings —
    the one expression compiler (FILTER, HAVING, BIND, IF, SELECT
    expressions, ORDER BY keys). Arithmetic, and comparisons with a
    numeric operand (:func:`_is_numeric`), try_cast operands to double
    (terms are strings; non-numeric terms become NULL, the SQL
    NULL-skip rule documented for SUM/AVG); other comparisons use
    string collation; string functions cast to string. An Agg is the
    hidden HAVING column it was named for."""

    def num(x):
        return _expr_col(x).try_cast("double")

    def s(x):
        # integer-valued numeric LITERALS keep SPARQL's integer lexical
        # form in string contexts ("1", not "1.0"); arithmetic RESULTS
        # are doubles and keep the double form (documented deviation,
        # module docstring)
        if isinstance(x, ExprNum) and x.value == int(x.value):
            return F.lit(str(int(x.value)))
        return _expr_col(x).cast("string")

    if isinstance(e, ExprVar):
        return F.col(e.name)
    if isinstance(e, (ExprStr, ExprNum)):
        return F.lit(e.value)
    if isinstance(e, Agg):
        return F.col(e.alias)
    if isinstance(e, ExprNot):
        return ~_expr_col(e.arg)
    if isinstance(e, ExprIn):
        return _expr_col(e.arg).isin(list(e.values))
    if isinstance(e, ExprBin):
        numeric = e.op in _ARITH or (
            e.op in _COMPARISONS
            and (_is_numeric(e.left) or _is_numeric(e.right))
        )
        side = num if numeric else _expr_col
        return _BINOPS[e.op](side(e.left), side(e.right))
    if isinstance(e, ExprFunc):
        if e.fn == "BOUND":
            return _expr_col(e.args[0]).isNotNull()
        if e.fn == "IF":
            # branches evaluate in string context
            cond, then, other = e.args
            return F.when(_expr_col(cond), s(then)).otherwise(s(other))
        if e.fn == "REGEX":
            return _expr_col(e.args[0]).rlike(e.args[1].value)
        if e.fn == "CONTAINS":
            return _expr_col(e.args[0]).contains(e.args[1].value)
        if e.fn == "STRSTARTS":
            return _expr_col(e.args[0]).startswith(e.args[1].value)
        if e.fn == "STRENDS":
            return _expr_col(e.args[0]).endswith(e.args[1].value)
        if e.fn == "COALESCE":
            # first BOUND value, string context (SPARQL's type
            # polymorphism is out of scope — documented string semantics)
            return F.coalesce(*[s(a) for a in e.args])
        if e.fn == "CONCAT":
            return F.concat(*[s(a) for a in e.args])
        if e.fn == "UCASE":
            return F.upper(s(e.args[0]))
        if e.fn == "LCASE":
            return F.lower(s(e.args[0]))
        if e.fn == "STRLEN":
            return F.length(s(e.args[0]))
        if e.fn == "STR":
            return s(e.args[0])
        if e.fn == "REPLACE":
            # SPARQL 1.1 REPLACE is regex-based (fn:replace)
            return F.regexp_replace(
                s(e.args[0]), e.args[1].value, e.args[2].value
            )
        if e.fn in ("STRBEFORE", "STRAFTER"):
            # spec: empty string when the separator does not occur; a
            # NULL (unbound OPTIONAL) input stays NULL so the BIND
            # alias stays unbound and BOUND() agrees with SPARQL 1.1
            # error propagation
            col, sep = s(e.args[0]), e.args[1].value
            loc = F.locate(sep, col)
            if e.fn == "STRBEFORE":
                hit = F.substr(col, F.lit(1), loc - 1)
            else:
                hit = F.substr(col, loc + len(sep))
            return (
                F.when(col.isNull(), F.lit(None).cast("string"))
                .when(loc > 0, hit)
                .otherwise(F.lit(""))
            )
        if e.fn == "SUBSTR":
            # start/length are integer literals (checked by _check_call)
            length = int(e.args[2].value) if len(e.args) == 3 else 2**31 - 1
            return F.substring(s(e.args[0]), int(e.args[1].value), length)
    raise ValueError(f"unknown expression node {e!r}")


def _agg_col(a: Agg):
    """One Agg -> its Column (shared by SELECT aggregates and hidden
    HAVING aggregates). SUM/AVG try_cast the string terms to double —
    non-numeric terms become NULL and are skipped (SQL semantics,
    documented deviation from SPARQL 1.1 error propagation)."""
    if a.fn == "COUNT":
        if a.distinct:
            return F.countDistinct(F.col(a.var))
        return F.count(F.lit(1)) if a.var is None else F.count(F.col(a.var))
    if a.fn == "MIN":
        return F.min(F.col(a.var))
    if a.fn == "MAX":
        return F.max(F.col(a.var))
    if a.fn == "GROUP_CONCAT":
        # SPARQL leaves the concatenation order undefined; this engine
        # SORTS values so the result is deterministic and oracle-
        # comparable (DuckDB twin: string_agg(... ORDER BY ...))
        return F.array_join(
            F.sort_array(F.collect_list(F.col(a.var))), a.sep
        )
    if a.fn == "SAMPLE":
        # SAMPLE may return any value of the group; the engine picks
        # MIN — a conforming, deterministic choice
        return F.min(F.col(a.var))
    num = F.col(a.var).try_cast("double")
    return F.sum(num) if a.fn == "SUM" else F.avg(num)


def compile_sparql_encoded(
    spark: SparkSession, sf_dir: str, text: str
) -> DataFrame:
    """Parse + compile a SPARQL query against the dictionary-encoded
    triple store (constants encoded once driver-side, joins in long
    space, decode only the final bindings) — the entry point every
    registered triple-pattern query calls."""
    return _compile_query(spark, sf_dir, parse_sparql(text))


def _compile_query(
    spark: SparkSession, sf_dir: str, q: SparqlQuery
) -> DataFrame:
    """Compile one parsed SparqlQuery; recurses for sub-SELECTs (each
    sub-query probes its own constants and decodes its own bindings —
    the join with the outer group happens on decoded terms, which is
    equality-safe because the dictionary is a bijection)."""
    from ..operators.bgp_queries import encoded_store

    if q.describe_iris or q.describe_var is not None:
        # DESCRIBE: the resources' full neighborhood (subject OR object
        # position), set semantics. Constant iris push straight into the
        # two scans; the ?var form compiles its WHERE to a SELECT of
        # the variable and joins the distinct bindings in.
        from copy import copy as _shallow

        t = triples_view(spark, sf_dir)
        if q.describe_iris:
            s_side = t.filter(F.col("s").isin(q.describe_iris))
            o_side = t.filter(F.col("o").isin(q.describe_iris))
        else:
            q2 = _shallow(q)
            q2.describe_var = None
            q2.select = [q.describe_var]
            q2.distinct = True
            res = (
                _compile_query(spark, sf_dir, q2)
                .select(F.col(q.describe_var).alias("__r"))
                .distinct()
            )
            s_side = t.join(res, t["s"] == res["__r"]).select("s", "p", "o")
            o_side = t.join(res, t["o"] == res["__r"]).select("s", "p", "o")
        return s_side.unionByName(o_side).distinct()

    d, enc = encoded_store(spark, sf_dir)
    if q.from_default:
        # plain FROM <g>: the default graph becomes the MERGE of the
        # listed graphs. A triple's graph is its SUBJECT's family
        # (quads.graph_of), so the restriction is one broadcast
        # semi-join of the encoded relation against the allowed
        # subject ids — every downstream construct (patterns, paths,
        # OPTIONAL, MINUS, aggregates) then sees only the merged
        # default graph.
        # GRAPH groups range over the NAMED set implied by the same
        # dataset clause: q.from_named if given, else EMPTY (handled
        # at the quad-layout scan below, per SPARQL 1.1 §13.2).
        allowed_subjects = d.filter(
            graph_of(F.col("term")).isin(list(q.from_default))
        ).select(F.col("term_id").alias("s"))
        enc = enc.join(F.broadcast(allowed_subjects), "s", "left_semi")
    subs = [_compile_query(spark, sf_dir, s) for s in q.subselects]

    plain = [p for p in q.patterns if not isinstance(p[1], _PATH_TYPES)]
    path_pats = [p for p in q.patterns if isinstance(p[1], _PATH_TYPES)]
    all_groups = q.unions if q.unions else [list(plain)]
    consts = set()
    anti_groups = list(q.minus) + list(q.not_exists)
    for subj, mid, obj in (
        [p for g in all_groups for p in g]
        + list(q.optionals)
        + [p for g in anti_groups for p in g]
        + path_pats
    ):
        # a path in predicate position contributes its predicate NAMES
        # (not the path object) to the dictionary probe
        if isinstance(mid, _PATH_TYPES):
            consts |= _path_preds(mid)
        elif not isinstance(mid, Var):
            consts.add(mid)
        consts.update(t for t in (subj, obj) if not isinstance(t, Var))
    for _var, lits in q.values:
        consts.update(lits)
    # a FILTER that is exactly one =/!= between a pattern variable and
    # a string literal runs encoded (long-space) inside the join
    # pipeline; every other FILTER needs decoded terms and runs
    # post-decode. Vars produced outside the encoded pipeline (BIND
    # aliases, sub-SELECT outputs) only exist post-decode, so their
    # filters can't run encoded.
    patvars = {
        t.name
        for pats in ([p for g in all_groups for p in g], q.optionals, path_pats)
        for pat in pats
        for t in (pat[0], pat[2])
        if isinstance(t, Var)
    }
    # (filter, var, literal) per encoded FILTER
    encoded_filters = []
    for f in q.filters:
        if isinstance(f, ExprBin) and f.op in ("=", "!="):
            var, lit = f.left, f.right
            if isinstance(lit, ExprVar):
                var, lit = lit, var
            if (
                isinstance(var, ExprVar)
                and isinstance(lit, ExprStr)
                and var.name in patvars
            ):
                encoded_filters.append((f, var.name, lit.value))
                consts.add(lit.value)
    cmap = {
        r["term"]: r["term_id"]
        for r in d.filter(F.col("term").isin(*consts)).collect()
    } if consts else {}
    missing = consts - set(cmap)
    # an absent constant can never match: empty result, but keep the
    # schema by binding it to an impossible id
    cmap.update({t: -1 for t in missing})

    def enc_pat(pat):
        return tuple(
            t if isinstance(t, Var) else int(cmap[t]) for t in pat
        )

    def pat_step(pat):
        """One pattern -> its encoded bindings relation: plain triples
        via the BGP lowering, paths via the path algebra with the
        endpoints bound like a triple's subject and object."""
        if not isinstance(pat[1], _PATH_TYPES):
            return compile_bgp(enc, [enc_pat(pat)])
        if not any(isinstance(t, Var) for t in (pat[0], pat[2])):
            raise ValueError("path pattern binds no variables")
        rel = _path_rel(enc, pat[1], cmap)
        return bind_terms(rel, zip(("src", "dst"), enc_pat((pat[0], pat[2]))))

    def compile_group(g):
        """A conjunctive group (plain triples AND path patterns) ->
        encoded bindings; shared by the top-level patterns, each UNION
        branch, and each MINUS / NOT EXISTS group."""
        return reduce(natural_join, [pat_step(pat) for pat in g])

    if q.unions:  # the parser rejects patterns beside a top-level UNION
        parts = [compile_group(g) for g in all_groups]
        bound = parts[0].select(*sorted(parts[0].columns))
        for part in parts[1:]:
            bound = bound.unionByName(part.select(*sorted(part.columns)))
    elif q.patterns:
        bound = compile_group(plain + path_pats)
    else:
        bound = None
    if bound is None and (
        q.optionals or q.minus or q.not_exists or q.values or encoded_filters
    ):
        # sub-SELECT-/GRAPH-only WHERE: these constructs all need
        # encoded pattern bindings to act on
        raise ValueError(
            "OPTIONAL/MINUS/NOT EXISTS/VALUES/FILTER require triple "
            "patterns alongside a sub-SELECT or GRAPH group"
        )
    # OPTIONALs left-extend the bindings after every required pattern
    # is joined (SPARQL 1.1 §18.2.2.6: LeftJoin(Join(required), opt)):
    # extend where the pattern matches, NULL where not.
    for pat in q.optionals:
        bound = natural_join(bound, pat_step(pat), "left")
    # MINUS / FILTER NOT EXISTS: the excluded group compiles to its own
    # encoded BGP join; exclusion is a left-anti join on the SHARED
    # variable columns (dictionary encoding preserves equality, so the
    # anti-join runs in long space — the MINUS lowering of
    # natural_join). With NO shared variables the two constructs
    # diverge per SPARQL 1.1 §8.3: MINUS removes nothing; NOT EXISTS
    # removes every row iff the group matches at all.
    for g in q.minus:
        bound = natural_join(bound, compile_group(g), "left_anti")
    for g in q.not_exists:
        right = compile_group(g)
        if set(bound.columns) & set(right.columns):
            bound = natural_join(bound, right, "left_anti")
        else:
            # uncorrelated NOT EXISTS: anti against a 1-row marker —
            # all rows survive iff the group is empty
            marker = right.limit(1).select(F.lit(1).alias("__m"))
            bound = bound.join(marker, F.lit(True), "left_anti")
    # every FILTER variable must be bound by the patterns, a BIND
    # alias, or a sub-SELECT output (rejects loudly as ValueError, not
    # an engine AnalysisException)
    fvars = set().union(*map(_expr_vars, q.filters))
    available = (
        (set(bound.columns) if bound is not None else set())
        | {a for a, _ in q.binds}
        | {c for s in subs for c in s.columns}
        | {
            t.name
            for gterm, g in q.graphs
            for pat in g
            for t in (gterm, *pat)
            if isinstance(t, Var)
        }
    )
    unbound_f = sorted(fvars - available)
    if unbound_f:
        raise ValueError(f"FILTER over unbound variables: {unbound_f}")
    for f, var, lit in encoded_filters:
        cond = F.col(var) == F.lit(int(cmap[lit]))
        bound = bound.filter(cond if f.op == "=" else ~cond)
    # VALUES: inline bindings lower to an encoded IN-list filter that
    # rides the join pipeline (broadcast-join-free: k literal ids)
    for var, lits in q.values:
        if var not in bound.columns:
            raise ValueError(f"VALUES over unbound variable ?{var}")
        bound = bound.filter(
            F.col(var).isin([int(cmap[lit]) for lit in lits])
        )
    # decode every surviving binding column (broadcast dictionary)
    if bound is not None:
        bind_cols = list(bound.columns)
        for v in bind_cols:
            dec = d.select(
                F.col("term_id").alias(v),
                F.col("term").alias(f"__{v}_str"),
            )
            bound = bound.join(F.broadcast(dec), v, "left")
        decoded = bound.select(
            *[F.col(f"__{v}_str").alias(v) for v in bind_cols]
        )
    else:
        decoded = None
    # sub-SELECT solutions join the group on SHARED variables (inner
    # join over decoded terms — the dictionary is a bijection, so
    # string equality == id equality); with none shared the SPARQL
    # semantics is the cross product of the solution sequences.
    # A shared variable that is OPTIONAL-bound on EITHER side could be
    # NULL, and the inner join would drop it where SPARQL treats
    # unbound as compatible — rejected loudly (the module docstring
    # documents the boundary).
    outer_nullable = _optional_only_vars(q)
    for sub, subq in zip(subs, q.subselects):
        if decoded is None:
            decoded = sub
            continue
        nullable_shared = sorted(
            set(decoded.columns)
            & set(sub.columns)
            & (outer_nullable | _optional_only_vars(subq))
        )
        if nullable_shared:
            raise ValueError(
                "sub-SELECT shares OPTIONAL-bound variables "
                f"{nullable_shared} with the outer group — unbound-"
                "compatible join semantics are out of scope"
            )
        decoded = natural_join(decoded, sub)
    # GRAPH groups: plain conjunctive patterns over the graph-
    # partitioned quad layout, joined to the solution on shared
    # variables over decoded terms (like sub-SELECTs). A constant
    # graph term prunes `g=` partitions at the scan; a ?g variable
    # projects the graph name and constrains every pattern of the
    # group to the SAME graph (natural join on the var).
    if q.graphs:
        quads = quad_layout(spark, sf_dir)
        if q.from_named:
            quads = quads.filter(F.col("g").isin(list(q.from_named)))
        elif q.from_default:
            # a dataset clause replaces the WHOLE dataset (SPARQL 1.1
            # §13.2): FROM without FROM NAMED implies an EMPTY
            # named-graph set, so GRAPH groups match nothing — the
            # quad relation is constant-folded to empty, not left
            # ranging over all graphs
            quads = quads.filter(F.lit(False))
        for gterm, pats in q.graphs:
            # the graph position binds like s/p/o: a constant graph is a
            # pushed-down (partition-pruning) filter, a ?g variable a
            # binding shared across the group's patterns
            rel = reduce(
                natural_join,
                [
                    bind_terms(quads, zip(("g", "s", "p", "o"), (gterm, *pat)))
                    for pat in pats
                ],
            )
            decoded = rel if decoded is None else natural_join(decoded, rel)
    # BIND(expr AS ?alias): post-decode column extension, textual
    # order (later binds may reference earlier aliases); rebinding an
    # existing variable is a SPARQL syntax error, rejected loudly
    for alias, expr in q.binds:
        if alias in decoded.columns:
            raise ValueError(f"BIND alias ?{alias} is already bound")
        missing = sorted(_expr_vars(expr) - set(decoded.columns))
        if missing:
            raise ValueError(f"BIND over unbound variables: {missing}")
        decoded = decoded.withColumn(alias, _expr_col(expr))
    # post-decode filters
    encoded_ids = {id(f) for f, _var, _lit in encoded_filters}
    for f in q.filters:
        if id(f) not in encoded_ids:
            decoded = decoded.filter(_expr_col(f))
    if q.construct:
        # CONSTRUCT: instantiate each template triple per solution,
        # union, set-dedup (a graph has no duplicate triples). Rows
        # where a template variable is unbound (OPTIONAL miss) drop
        # that instantiation, per spec.
        parts = []
        for s, p, o in q.construct:
            cols, notnull = [], []
            for term, name in ((s, "s"), (p, "p"), (o, "o")):
                if isinstance(term, Var):
                    if term.name not in decoded.columns:
                        raise ValueError(
                            f"CONSTRUCT template var ?{term.name} is "
                            "not bound by WHERE"
                        )
                    col = F.col(term.name).cast("string")
                    notnull.append(col.isNotNull())
                    cols.append(col.alias(name))
                else:
                    cols.append(F.lit(term).alias(name))
            part = decoded
            for c in notnull:
                part = part.filter(c)
            parts.append(part.select(*cols))
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        out = out.distinct()
        if q.limit is not None:
            out = out.limit(q.limit)
        return out
    if q.ask:
        return (
            decoded.limit(1)
            .agg(
                F.when(F.count(F.lit(1)) > 0, 1)
                .otherwise(0)
                .cast("long")
                .alias("answer")
            )
        )
    if q.aggs:
        for a in q.aggs:
            if a.var is not None and a.var not in decoded.columns:
                raise ValueError(f"aggregate over unbound variable ?{a.var}")
        for g in q.group_by:
            if g not in decoded.columns:
                raise ValueError(f"GROUP BY of unbound variable ?{g}")
        # aggregate lowering notes live on _agg_col (SUM/AVG try_cast:
        # non-numeric terms are NULL-skipped — SQL semantics, the
        # documented deviation from SPARQL 1.1 error propagation)
        aggcols = [_agg_col(a).alias(a.alias) for a in q.aggs]
        # anonymous aggregate calls in HAVING compute as hidden agg
        # columns (named __hN by the parser), filtered then projected
        # away
        for e in q.having:
            for a in _expr_nodes(e):
                if not isinstance(a, Agg):
                    continue
                if a.var is not None and a.var not in decoded.columns:
                    raise ValueError(
                        f"HAVING aggregate over unbound variable ?{a.var}"
                    )
                aggcols.append(_agg_col(a).alias(a.alias))
        decoded = (
            decoded.groupBy(*q.group_by).agg(*aggcols)
            if q.group_by
            else decoded.agg(*aggcols)
        )
        for e in q.having:
            bad = sorted(_expr_vars(e) - set(decoded.columns))
            if bad:
                raise ValueError(
                    f"HAVING over variable ?{bad[0]} that is "
                    "neither grouped nor an aggregate alias"
                )
            decoded = decoded.filter(_expr_col(e))
        decoded = decoded.select(*q.select, *[a.alias for a in q.aggs])
    elif q.group_by:
        # aggregate-less GROUP BY: one row per distinct group-key
        # combination (validated: q.select ⊆ q.group_by). Projecting a
        # strict subset of the keys can legally repeat rows — the
        # groups stay distinct on ALL keys per SPARQL 1.1 §11.
        for g in q.group_by:
            if g not in decoded.columns:
                raise ValueError(f"GROUP BY of unbound variable ?{g}")
        decoded = (
            decoded.select(*q.group_by).dropDuplicates().select(*q.select)
        )
    elif q.select != ["*"] or q.select_exprs:
        unknown = [v for v in q.select if v not in decoded.columns]
        if unknown:
            raise ValueError(f"SELECT of unbound variables: {unknown}")
        if q.select == ["*"]:
            raise ValueError(
                "SELECT * cannot be mixed with SELECT expressions"
            )
        expr_cols = []
        for alias, expr in q.select_exprs:
            missing = sorted(_expr_vars(expr) - set(decoded.columns))
            if missing:
                raise ValueError(
                    f"SELECT expression over unbound variables: {missing}"
                )
            expr_cols.append(_expr_col(expr).alias(alias))
        decoded = decoded.select(*q.select, *expr_cols)
    if q.distinct:
        decoded = decoded.distinct()
    if q.order_by:
        # ORDER BY runs after the projection: a sort variable missing
        # from the result columns is a contract violation — raise the
        # promised ValueError, not an engine AnalysisException. Sort
        # keys are either variable names or expression ASTs;
        # expression keys evaluate over the projected columns.
        need = set()
        for key, _ in q.order_by:
            need |= {key} if isinstance(key, str) else _expr_vars(key)
        bad = sorted(need - set(decoded.columns))
        if bad:
            raise ValueError(
                f"ORDER BY over variables not in the result: {bad}"
            )
        sort_cols = [
            F.col(key) if isinstance(key, str) else _expr_col(key)
            for key, _ in q.order_by
        ]
        decoded = decoded.orderBy(
            *[
                c.desc() if desc else c.asc()
                for c, (_, desc) in zip(sort_cols, q.order_by)
            ]
        )
    if q.offset is not None:
        # skip-then-cap, SPARQL §15.4 slice order (matches SQL's
        # LIMIT n OFFSET k)
        decoded = decoded.offset(q.offset)
    if q.limit is not None:
        decoded = decoded.limit(q.limit)
    return decoded


# --- SPARQL Update subset -------------------------------------------


@dataclass(frozen=True)
class UpdateOp:
    """One update operation: kind is insert_data / delete_data (ground
    triples), delete_where (one triple pattern), modify (template
    DELETE/INSERT with a WHERE pattern group, optionally graph-scoped
    by WITH <g> and/or USING <g> dataset clauses), clear, or load."""

    kind: str
    triples: tuple = ()
    pattern: tuple | None = None
    delete_tmpl: tuple = ()
    insert_tmpl: tuple = ()
    where: tuple = ()
    with_graph: str | None = None
    using: tuple = ()
    graph: str | None = None  # clear/drop target; load INTO target
    iri: str | None = None  # load source document


def parse_sparql_update(text: str) -> list[UpdateOp]:
    """Parse the supported SPARQL Update subset: `INSERT DATA {...}`,
    `DELETE DATA {...}`, `DELETE WHERE { pattern }`, and the template
    forms `INSERT { tmpl } WHERE {...}` / `DELETE { tmpl } [INSERT
    { tmpl }] WHERE {...}` with optional `WITH <g>` / `USING <g>`
    dataset scoping, and the graph-management forms `CLEAR|DROP
    [SILENT] (GRAPH <g> | ALL)` / `LOAD [SILENT] <doc> [INTO GRAPH
    <g>]`, sequenced with `;`. Everything else (USING NAMED,
    GRAPH-qualified data, CLEAR/DROP DEFAULT/NAMED) is rejected
    loudly."""
    p = _Parser(tokenize(text))
    ops: list[UpdateOp] = []
    while True:
        with_graph: str | None = None
        t = p.next().upper()
        if t == "WITH":
            # WITH <g> scopes the FOLLOWING template operation: WHERE
            # evaluates against g (unless USING re-scopes it), DELETE
            # applies within g, INSERT targets g (SPARQL 1.1 Update
            # §3.1.3)
            g = p.next()
            if not g.startswith("<"):
                raise ValueError(f"WITH needs an <iri>, got {g!r}")
            with_graph = g[1:-1]
            t = p.next().upper()
            if t not in ("INSERT", "DELETE"):
                raise ValueError(
                    "WITH <graph> scopes a template operation — "
                    f"expected INSERT or DELETE, got {t!r}"
                )
        if t == "INSERT":
            if (p.peek() or "").upper() == "DATA":
                p.next()
                if with_graph is not None:
                    raise ValueError(
                        "WITH <graph> scopes template operations only, "
                        "not INSERT DATA"
                    )
                ops.append(
                    UpdateOp("insert_data", _ground_group(p, "INSERT DATA"))
                )
            elif p.peek() == "{":
                ins = _tmpl_group(p, "INSERT")
                using = _parse_using(p)
                p.expect("WHERE")
                ops.append(
                    UpdateOp(
                        "modify",
                        insert_tmpl=ins,
                        where=_tmpl_group(p, "WHERE"),
                        with_graph=with_graph,
                        using=using,
                    )
                )
            else:
                raise ValueError(
                    f"unsupported INSERT form at {p.peek()!r} "
                    "(DATA or a {{ template }})"
                )
        elif t == "DELETE":
            nxt = (p.peek() or "").upper()
            if nxt in ("DATA", "WHERE") and with_graph is not None:
                raise ValueError(
                    "WITH <graph> scopes template operations only, not "
                    f"DELETE {nxt}"
                )
            if nxt == "DATA":
                p.next()
                ops.append(
                    UpdateOp("delete_data", _ground_group(p, "DELETE DATA"))
                )
            elif nxt == "WHERE":
                p.next()
                pats = p.group("DELETE WHERE")
                if len(pats) != 1:
                    raise ValueError(
                        "DELETE WHERE supports exactly one triple "
                        f"pattern, got {len(pats)}"
                    )
                if isinstance(pats[0][1], _PATH_TYPES):
                    raise ValueError(
                        "property paths in DELETE WHERE are unsupported"
                    )
                ops.append(UpdateOp("delete_where", pattern=pats[0]))
            elif p.peek() == "{":
                dele = _tmpl_group(p, "DELETE")
                ins: tuple = ()
                if (p.peek() or "").upper() == "INSERT":
                    p.next()
                    ins = _tmpl_group(p, "INSERT")
                using = _parse_using(p)
                p.expect("WHERE")
                ops.append(
                    UpdateOp(
                        "modify",
                        delete_tmpl=dele,
                        insert_tmpl=ins,
                        where=_tmpl_group(p, "WHERE"),
                        with_graph=with_graph,
                        using=using,
                    )
                )
            else:
                raise ValueError(
                    f"unsupported DELETE form at {p.peek()!r} "
                    "(DATA, WHERE, or a {{ template }})"
                )
        elif t in ("CLEAR", "DROP"):
            # Graph management. This store records no empty graphs (a
            # triple's graph IS its subject family), so DROP and CLEAR
            # coincide — the exact store shape SPARQL 1.1
            # §3.2.2/§3.2.3 anticipates ("stores that do not record
            # empty graphs"). SILENT is accepted and inert for the same
            # reason: a missing graph already clears to a no-op.
            if with_graph is not None:
                raise ValueError(
                    f"WITH <graph> scopes template operations, not {t}"
                )
            if (p.peek() or "").upper() == "SILENT":
                p.next()
            nxt = p.next().upper()
            if nxt == "GRAPH":
                g = p.next()
                if not g.startswith("<"):
                    raise ValueError(f"{t} GRAPH needs an <iri>, got {g!r}")
                ops.append(UpdateOp("clear", graph=g[1:-1]))
            elif nxt == "ALL":
                ops.append(UpdateOp("clear", graph=None))
            else:
                # DEFAULT/NAMED are ambiguous here: the default view IS
                # the union of the derived graphs, so both would equal
                # ALL — rejected loudly rather than silently surprising
                raise ValueError(
                    f"{t} {nxt} is unsupported — in the subject-derived "
                    "graph layout the default graph is the union of all "
                    f"named graphs, so {t} DEFAULT/NAMED would equal "
                    f"{t} ALL; say {t} ALL or {t} GRAPH <g>"
                )
        elif t == "LOAD":
            if with_graph is not None:
                raise ValueError(
                    "WITH <graph> scopes template operations, not LOAD"
                )
            if (p.peek() or "").upper() == "SILENT":
                p.next()
            iri = p.next()
            if not iri.startswith("<"):
                raise ValueError(f"LOAD needs a <document-iri>, got {iri!r}")
            into: str | None = None
            if (p.peek() or "").upper() == "INTO":
                p.next()
                p.expect("GRAPH")
                g = p.next()
                if not g.startswith("<"):
                    raise ValueError(
                        f"LOAD INTO GRAPH needs an <iri>, got {g!r}"
                    )
                into = g[1:-1]
            ops.append(UpdateOp("load", iri=iri[1:-1], graph=into))
        else:
            raise ValueError(
                f"unsupported update operation {t!r} — the subset is "
                "INSERT DATA / DELETE DATA / DELETE WHERE / "
                "[DELETE {tmpl}] [INSERT {tmpl}] WHERE {...} / "
                "CLEAR|DROP [SILENT] (GRAPH <g> | ALL) / "
                "LOAD [SILENT] <doc> [INTO GRAPH <g>]"
            )
        if p.peek() is None:
            break
        p.expect(";")
        if p.peek() is None:
            break  # trailing separator
    return ops


def _parse_using(p: _Parser) -> tuple[str, ...]:
    """USING <g> dataset clauses: the WHERE group's default graph
    becomes the MERGE of the listed graphs — the update-side twin of
    the SELECT pipeline's plain FROM. Because the quad layout derives
    each triple's graph from its subject family (quads.graph_of), the
    restriction lowers to ONE scan-local string predicate on the state,
    no join. USING NAMED
    stays a recognized rejection: update WHERE groups have no GRAPH
    patterns in this subset, so a named-graph set would select
    nothing."""
    graphs: list[str] = []
    while (p.peek() or "").upper() == "USING":
        p.next()
        if (p.peek() or "").upper() == "NAMED":
            raise ValueError(
                "USING NAMED is unsupported in update templates — the "
                "WHERE subset has no GRAPH patterns, so a named-graph "
                "set would select nothing"
            )
        g = p.next()
        if not g.startswith("<"):
            raise ValueError(f"USING needs an <iri>, got {g!r}")
        graphs.append(g[1:-1])
    return tuple(graphs)


def _tmpl_group(p: _Parser, kind: str) -> tuple:
    """A { t1 . t2 . } block of plain-predicate triples (variables
    allowed) for template updates and their WHERE groups."""
    pats = p.group(kind)
    for pat in pats:
        if isinstance(pat[1], _PATH_TYPES):
            raise ValueError(f"{kind} takes plain predicates, not paths")
    return tuple(pats)


def _ground_group(p: _Parser, kind: str) -> tuple:
    """A { t1 . t2 . } block of GROUND triples (no variables, no
    paths) for INSERT DATA / DELETE DATA."""
    pats = p.group(kind)
    for pat in pats:
        if isinstance(pat[1], _PATH_TYPES):
            raise ValueError(f"{kind} takes plain predicates, not paths")
        if any(isinstance(t, Var) for t in pat):
            raise ValueError(f"{kind} takes ground triples, no variables")
    return tuple(pats)


def compile_sparql_update(
    spark: SparkSession, sf_dir: str, text: str
) -> DataFrame:
    """Apply an update sequence to the triples view and return the
    POST-UPDATE STATE (s, p, o) — the engine's storage is immutable
    parquet, so updates are state transformations (q_upsert_result's
    contract; the on-disk analog is sources/compaction.py's MERGE).

    Semantics, applied in textual order:
    - INSERT DATA: the reference's R2 LWW-register upsert per (s, p)
      key (SQLite3DBConnector.py:48-119) — the inserted object REPLACES
      every existing object of that key; within one batch the LAST
      triple per key wins (the reference's delta-dict overwrite rule,
      SURVEY §2.A R8).
    - DELETE DATA: exact-triple removal.
    - DELETE WHERE: every triple matching the single pattern (the
      pattern binding rule, bgp.term_conditions) is removed.
    - [DELETE { tmpl }] [INSERT { tmpl }] WHERE { patterns } (template
      form): the WHERE group compiles through the BGP join
      against the CURRENT state; both templates instantiate from the
      SAME solution set (SPARQL 1.1 §3.1.3), deletions apply first,
      insertions are GRAPH SET union (distinct) — deliberately NOT the
      LWW upsert, which is the DATA form's documented reference-parity
      semantics. `WITH <g>` scopes WHERE evaluation and
      DELETE application to graph g (and statically validates INSERT
      representability); `USING <g>...` re-scopes WHERE's default
      graph to the merge of the listed graphs. Both lower to
      scan-local subject-family predicates (quads.graph_of).

    The literal batches come from the update TEXT (driver-side, bounded
    by statement length — the VALUES rule), broadcast into anti-joins:
    one scan of the state per operation, no shuffles."""

    def _anti_literals(
        df: DataFrame, cols: tuple[str, ...], tuples: list[tuple[str, ...]]
    ) -> DataFrame:
        """Remove rows matching any literal tuple. DATA batches come
        from the statement text, so they are usually a handful of
        triples — compiled as a scan-local NOT(OR-of-conjunctions)
        predicate that pushes into every leg of the triples-view union
        (the broadcast anti-join form planned one BroadcastExchange +
        BroadcastHashJoin PER LEG PER OP: 80-node plans for a 3-op
        update). Past _MAX_LITERAL_FILTER the OR chain would bloat
        codegen, so big batches keep the anti-join."""
        if not tuples:
            # SPARQL's legal empty `INSERT DATA { }` must be a no-op,
            # not a coalesce(None, ...) crash, should the parser ever
            # start admitting empty DATA groups
            return df
        _MAX_LITERAL_FILTER = 64
        if len(tuples) > _MAX_LITERAL_FILTER:
            rows = spark.createDataFrame(
                tuples, ", ".join(f"{c} string" for c in cols)
            )
            return df.join(F.broadcast(rows), list(cols), "left_anti")
        match = None
        for vals in tuples:
            one = None
            for c, v in zip(cols, vals):
                eq = F.col(c) == F.lit(v)
                one = eq if one is None else (one & eq)
            match = one if match is None else (match | one)
        # null-safe: anti-join keeps rows whose key is NULL; plain
        # ~match would drop them (three-valued logic), so coalesce
        return df.filter(~F.coalesce(match, F.lit(False)))

    state = triples_view(spark, sf_dir)
    for op in parse_sparql_update(text):
        if op.kind == "insert_data":
            kv: dict[tuple[str, str], str] = {}
            for s, p, o in op.triples:
                kv[(s, p)] = o  # batch-internal LWW: last write wins
            rows = spark.createDataFrame(
                [(s, p, o) for (s, p), o in kv.items()],
                "s string, p string, o string",
            )
            state = _anti_literals(
                state, ("s", "p"), [k for k in kv]
            ).unionByName(rows)
        elif op.kind == "delete_data":
            state = _anti_literals(state, ("s", "p", "o"), list(op.triples))
        elif op.kind == "clear":
            # CLEAR/DROP: graph-management on the derived layout — one
            # scan-local predicate on the subject family, no joins.
            # graph=None means ALL (empty state, schema kept).
            if op.graph is None:
                state = state.filter(F.lit(False))
            else:
                state = state.filter(graph_of(F.col("s")) != op.graph)
        elif op.kind == "load":
            # LOAD <doc>: the reference's R19 bulk TSV load
            # (TSV_bulk upload route) as a SPARQL 1.1 §3.1.4 graph
            # union — document triples merge set-wise into the state
            # (unlike INSERT DATA's documented R2 LWW upsert).
            from ..sources.readers import read_triples_tsv

            loaded = read_triples_tsv(
                spark, op.iri, has_timestamp=False
            ).select(
                F.col("subject").alias("s"),
                F.col("predicate").alias("p"),
                F.col("object").alias("o"),
            )
            if op.graph is not None:
                # INTO GRAPH representability (same rule as WITH+INSERT
                # templates): the layout derives a triple's graph from
                # its subject family, so every loaded subject must be
                # of the target family — validated on the actual
                # document (bounded scalar: one count per LOAD op),
                # rejected loudly, never silently re-homed
                n_bad = loaded.filter(
                    graph_of(F.col("s")) != op.graph
                ).count()
                if n_bad:
                    raise ValueError(
                        f"LOAD INTO GRAPH <{op.graph}>: {n_bad} document "
                        "triples have subjects outside that graph's "
                        "family — unrepresentable in the subject-derived "
                        "graph layout"
                    )
            new_rows = loaded.dropDuplicates(["s", "p", "o"]).join(
                state, ["s", "p", "o"], "left_anti"
            )
            state = state.unionByName(new_rows)
        elif op.kind == "delete_where":
            conds, _ = term_conditions(zip(("s", "p", "o"), op.pattern))
            state = state.filter(~reduce(operator.and_, conds, F.lit(True)))
        else:  # modify: [DELETE {tmpl}] [INSERT {tmpl}] WHERE {patterns}
            bound_vars = {
                t.name
                for pat in op.where
                for t in pat
                if isinstance(t, Var)
            }
            for tmpl in (op.delete_tmpl, op.insert_tmpl):
                missing = sorted(
                    {
                        t.name
                        for pat in tmpl
                        for t in pat
                        if isinstance(t, Var)
                    }
                    - bound_vars
                )
                if missing:
                    raise ValueError(
                        f"template variables {missing} are not bound by "
                        "the WHERE group"
                    )
            # a triple's graph IS its subject family (quads.graph_of),
            # so every dataset restriction below is a scan-local string
            # predicate — no joins
            s_graph = graph_of(F.col("s"))
            # WITH <g> INSERT representability: the layout
            # cannot hold a quad whose graph differs from its subject
            # family, so insert-template subjects must be PROVABLY of
            # the WITH graph — a constant of that family, or a
            # variable bound in SUBJECT position of a WHERE group that
            # itself ranges over the WITH graph (i.e. not re-scoped by
            # USING). Anything else is rejected loudly, never dropped.
            if op.with_graph and op.insert_tmpl:
                subj_vars = {
                    pat[0].name
                    for pat in op.where
                    if isinstance(pat[0], Var)
                }
                for s, _pp, _oo in op.insert_tmpl:
                    if isinstance(s, Var):
                        if op.using or s.name not in subj_vars:
                            raise ValueError(
                                f"WITH <{op.with_graph}>: insert-template"
                                f" subject ?{s.name} is not provably of "
                                "the target graph's family — the layout "
                                "derives a triple's graph from its "
                                "subject, so only constants of that "
                                "family or subject-position WHERE "
                                "variables (without USING re-scoping) "
                                "are insertable"
                            )
                    elif graph_of(s) != op.with_graph:
                        raise ValueError(
                            f"WITH <{op.with_graph}>: constant subject "
                            f"{s!r} belongs to graph {graph_of(s)} — "
                            "unrepresentable in the subject-derived graph "
                            "layout"
                        )
            # WHERE dataset: USING graphs if given, else the WITH
            # graph, else the full default view (SPARQL 1.1 Update
            # §3.1.3 precedence)
            scope = op.using or (
                (op.with_graph,) if op.with_graph else ()
            )
            where_state = (
                state.filter(s_graph.isin(list(scope)))
                if scope
                else state
            )
            # WHERE evaluates against the CURRENT state (textual
            # sequence semantics); checkpoint so delete/insert sides
            # and the next operation share one computation
            sols = compile_bgp(
                where_state, list(op.where)
            ).transform(lazy_cut)

            def _inst(tmpls: tuple) -> DataFrame | None:
                parts = []
                for s, p, o in tmpls:
                    cols = [
                        (
                            F.col(t.name) if isinstance(t, Var) else F.lit(t)
                        ).alias(n)
                        for t, n in zip((s, p, o), ("s", "p", "o"))
                    ]
                    parts.append(sols.select(*cols))
                if not parts:
                    return None
                out = parts[0]
                for more in parts[1:]:
                    out = out.unionByName(more)
                return out.dropDuplicates(["s", "p", "o"])

            dels = _inst(op.delete_tmpl)
            ins = _inst(op.insert_tmpl)
            if dels is not None:
                if op.with_graph:
                    # WITH scopes the DELETE to the named graph: rows
                    # of other graphs are never touched, even when
                    # USING re-scoped the WHERE elsewhere
                    dels = dels.filter(s_graph == op.with_graph)
                state = state.join(dels, ["s", "p", "o"], "left_anti")
            if ins is not None:
                # SPARQL 1.1 §3.1.3: a graph is a SET — template inserts
                # union-distinct (unlike INSERT DATA's documented
                # R2 LWW-register upsert)
                ins_new = ins.join(state, ["s", "p", "o"], "left_anti")
                state = state.unionByName(ins_new)
    return state
