"""SPARQL SELECT text front-end.

The reference's primary entry point is a SPARQL string parsed by RDF4J
and evaluated over the store (sail/.../HBaseSail.java:304-337; tools run
queries through SailRepository.prepareQuery, HalyardExport.java:521).
This module is the Spark-native equivalent: a recursive-descent parser
for the SPARQL 1.1 SELECT subset the engine's algebra covers, planned
directly onto the existing DataFrame combinators (query/algebra.py,
query/pattern.py, query/exprs.py).  Catalyst then optimizes the composed
plan — there is no separate interpreter; a parsed query IS a DataFrame.

Supported surface (the W3C-style shapes exercised by the reference's
conformance suite, strategy/src/test/.../W3CApprovedSPARQL11QueryTest.java;
our sample manifest run lives in tests/w3c):

  PREFIX / BASE, SELECT [DISTINCT|REDUCED] (*, vars, (expr AS ?v)),
  FROM / FROM NAMED datasets, WHERE { triple patterns with ';' ',' 'a',
  nested groups, nested { SELECT ... } subqueries, OPTIONAL, UNION,
  MINUS, GRAPH <g> / GRAPH ?g, SERVICE [SILENT] <iri>, FILTER (incl.
  EXISTS / NOT EXISTS), BIND, VALUES with UNDEF }, full property-path
  algebra (sequence / alternative / inverse ^ / negated sets ! / p+ p*
  p? over arbitrary sub-paths), GROUP BY / HAVING (arbitrary boolean
  shapes) with COUNT/SUM/MIN/MAX/AVG/GROUP_CONCAT/SAMPLE (each with
  DISTINCT), ORDER BY [ASC|DESC], LIMIT / OFFSET; UPDATE adds GRAPH
  blocks, WITH and USING [NAMED].

Terms are the engine's N-Triples lexical strings (nt.py), so parsed
queries run unchanged against any triples DataFrame (subj, pred, obj
[, ctx]).  Expression error semantics follow the reference: a type error
yields NULL, FILTER treats it as false, BIND leaves the var unbound
(HalyardValueExprEvaluation.java:104-111).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import partial, reduce
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DataType, NumericType

from halyard_spark import nt
from halyard_spark.pipeline.materialize import StoreFrame, pick_index
from halyard_spark.query import algebra as A
from halyard_spark.query import exprs as E
from halyard_spark.query import fulltext as FT
from halyard_spark.query.pattern import bind_columns
from halyard_spark.session import local_frame

# ---------------------------------------------------------------- tokens

# PN_LOCAL may contain but not END with '.' (SPARQL 1.1 §19.8) — a greedy
# trailing dot would swallow the triple terminator ('foaf:Person. }').
# Same for NUM: '42.' is INTEGER '42' followed by the '.' terminator
# (DECIMAL requires digits after the dot; '1.e3' is a valid DOUBLE).
_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRI><[^<>"{}|^`\\\s]*>)
  | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<STRING>"{3}(?:[^"\\]|\\.|"(?!"{2}))*"{3}|'{3}(?:[^'\\]|\\.|'(?!'{2}))*'{3}|"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
  | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
  | (?P<NUM>[+-]?(?:\d+\.\d+|\d+\.(?=[eE])|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<PNAME>(?:[A-Za-z_][A-Za-z0-9_\-]*)?:
              (?:(?:[A-Za-z0-9_\-%]|\\[_~.\-!$&'()*+,;=/?\#@%])
                 (?:(?:[A-Za-z0-9_\-.%]|\\[_~.\-!$&'()*+,;=/?\#@%])*
                    (?:[A-Za-z0-9_\-%]|\\[_~.\-!$&'()*+,;=/?\#@%]))?)?
             |[A-Za-z_][A-Za-z0-9_\-]*)
  | (?P<OP>\^\^|&&|\|\||!=|<=|>=|[{}()\[\],;.=<>!*/+\-?^|])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "select", "construct", "ask", "describe",
    "distinct", "reduced", "where", "prefix", "base", "as",
    "optional", "union", "minus", "filter", "bind", "values", "undef",
    "group", "by", "having", "order", "asc", "desc", "limit", "offset",
    "exists", "not", "in", "a", "true", "false",
    "insert", "delete", "data", "with", "using",
    "graph", "service", "silent", "from", "named",
    "clear", "drop", "create", "copy", "move", "add", "to", "default", "all",
    "load", "into",
}


def _expr_vars(node) -> set[str]:
    """Every ("var", name) leaf reachable in an expression (or list of
    expressions) AST — used to decide whether an OPTIONAL-lifted filter
    can see an outer binding.  Walks EXISTS groups too: their pattern
    vars correlate against the enclosing solution, so they count."""
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, tuple) and len(n) == 2 and n[0] == "var" and isinstance(n[1], str):
            out.add(n[1])
        elif isinstance(n, (tuple, list)):
            stack.extend(n)
    return out


@dataclass
class _Tok:
    kind: str
    value: str


def tokenize(q: str) -> list[_Tok]:
    out, pos = [], 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m:
            raise SyntaxError(f"SPARQL: cannot tokenize at {q[pos:pos + 30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        val = m.group()
        if kind == "PNAME" and val.lower() in _KEYWORDS and not val.endswith(":"):
            out.append(_Tok("KW", val.lower()))
        else:
            out.append(_Tok(kind, val))
    out.append(_Tok("EOF", ""))
    return out


# ------------------------------------------------------------------- AST

@dataclass
class Query:
    form: str = "select"  # select | construct | ask | describe
    distinct: bool = False
    reduced: bool = False
    select_all: bool = False
    projections: list = field(default_factory=list)  # (alias, expr_ast|None)
    template: list = field(default_factory=list)  # CONSTRUCT triples
    describe_terms: list = field(default_factory=list)
    where: list = field(default_factory=list)
    group_by: list = field(default_factory=list)
    having: list = field(default_factory=list)
    order_by: list = field(default_factory=list)  # (expr_ast, ascending)
    limit: int | None = None
    offset: int = 0
    # RDF dataset clauses; None = no clause given (query the whole store)
    from_graphs: list | None = None  # FROM <g>: default graph = merge of these
    from_named: list | None = None  # FROM NAMED <g>: the GRAPH-var space
    values_clause: tuple | None = None  # trailing VALUES block (§10.2.2)


class _Parser:
    def __init__(self, toks: list[_Tok], base: str | None = None):
        self.toks = toks
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = base
        # triples generated by [ p o ] blank-node property lists, drained
        # by the enclosing triples block
        self._pending: list = []
        self._anon_n = 0

    def _anon_var(self) -> str:
        self._anon_n += 1
        return f"__bnode_anon{self._anon_n}"

    # -- token plumbing
    def peek(self, k: int = 0) -> _Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, value: str | None = None) -> _Tok:
        t = self.next()
        if t.kind != kind or (value is not None and t.value != value):
            raise SyntaxError(f"SPARQL: expected {value or kind}, got {t.kind} {t.value!r}")
        return t

    def accept(self, kind: str, value: str | None = None) -> bool:
        t = self.peek()
        if t.kind == kind and (value is None or t.value == value):
            self.i += 1
            return True
        return False

    def _resolve(self, iri: str) -> str:
        """RFC 3986 reference resolution against the in-scope BASE —
        `<doc>`, `<../p>`, `</abs>` all resolve; absolute IRIs pass
        through (simple concatenation would mangle dot-segments)."""
        if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", iri):
            from urllib.parse import urljoin

            return urljoin(self.base, iri)
        return iri

    # -- grammar
    def parse(self) -> Query:
        while True:
            if self.accept("KW", "prefix"):
                pname = self.expect("PNAME").value
                iri = self.expect("IRI").value
                # a relative prefix IRI resolves against the BASE in
                # scope at the declaration (Turtle/SPARQL shared rule)
                self.prefixes[pname.rstrip(":")] = self._resolve(iri[1:-1])
            elif self.accept("KW", "base"):
                # successive BASE declarations resolve against the prior
                self.base = self._resolve(self.expect("IRI").value[1:-1])
            else:
                break
        q = self.parse_query_body()
        if self.peek().kind != "EOF":
            raise SyntaxError(
                f"SPARQL: trailing tokens after query: {self.peek().value!r}"
            )
        return q

    def parse_query_body(self) -> Query:
        """Query form + WHERE + solution modifiers.  Also the subquery
        entry point: a nested `{ SELECT ... }` stops at the closing '}'
        (projection scoping per HalyardTupleExprEvaluation.java:256-285)."""
        q = Query()
        head = self.next()
        if head.kind != "KW" or head.value not in ("select", "construct", "ask", "describe"):
            raise SyntaxError(f"SPARQL: expected a query form, got {head.value!r}")
        q.form = head.value
        if q.form == "select":
            if self.accept("KW", "distinct"):
                q.distinct = True
            elif self.accept("KW", "reduced"):
                q.reduced = True
            if self.accept("OP", "*"):
                q.select_all = True
            else:
                while True:
                    t = self.peek()
                    if t.kind == "VAR":
                        self.next()
                        q.projections.append((t.value[1:], None))
                    elif t.kind == "OP" and t.value == "(":
                        self.next()
                        e = self.parse_expr()
                        self.expect("KW", "as")
                        v = self.expect("VAR").value[1:]
                        self.expect("OP", ")")
                        q.projections.append((v, e))
                    else:
                        break
                if not q.projections:
                    raise SyntaxError("SPARQL: SELECT needs '*' or at least one projection")
                # §18.2.4.2: a variable may appear at most once in the
                # SELECT clause, and an AS target must not already be
                # selected (the official syn-bad duplicate-AS shapes)
                seen: set = set()
                for v, _e in q.projections:
                    if v in seen:
                        raise SyntaxError(
                            f"SPARQL: variable ?{v} appears more than once in SELECT"
                        )
                    seen.add(v)
        elif q.form == "construct":
            if self.peek().kind == "OP" and self.peek().value == "{":
                q.template = self.parse_group()
                for el in q.template:
                    if el[0] != "triple":
                        raise SyntaxError("SPARQL: CONSTRUCT template must contain only triples")
            else:
                # CONSTRUCT WHERE { triples } shortform (§10.2.3): the
                # WHERE pattern doubles as the template
                q.template = None
        elif q.form == "describe":
            while self.peek().kind in ("IRI", "PNAME", "VAR"):
                q.describe_terms.append(self.parse_term())
            if not q.describe_terms:
                raise SyntaxError("SPARQL: DESCRIBE needs at least one IRI or variable")
        # DatasetClause*: FROM <g> / FROM NAMED <g> (SPARQL 1.1 §13.2) —
        # the reference resolves these through the RDF4J Dataset on the
        # strategy (filters the context of every scan)
        while self.accept("KW", "from"):
            named = bool(self.accept("KW", "named"))
            g = self.parse_term()
            if g[0] != "iri":
                raise SyntaxError("SPARQL: FROM needs an IRI")
            if named:
                q.from_named = (q.from_named or []) + [self.term_lexical(g)]
            else:
                q.from_graphs = (q.from_graphs or []) + [self.term_lexical(g)]
        if self.accept("KW", "where"):
            q.where = self.parse_group()
        elif self.peek().kind == "OP" and self.peek().value == "{":
            q.where = self.parse_group()
        if q.form == "construct" and q.template is None:
            if not q.where:
                raise SyntaxError("SPARQL: CONSTRUCT WHERE shortform needs a pattern")
            for el in q.where:
                # §16.2.4: the shortform pattern admits only TriplesTemplate
                # — plain triple patterns, no property paths
                if el[0] != "triple" or el[2][0] == "pathexpr":
                    raise SyntaxError(
                        "SPARQL: CONSTRUCT WHERE shortform allows only triple patterns"
                    )
            q.template = q.where
        # grammar §19.8 SolutionModifier fixes the clause order: GroupClause?
        # HavingClause? OrderClause? LimitOffsetClauses? — each at most once
        mod_rank = 0

        def mod(clause: str, rank: int, allow_same: bool = False) -> None:
            # allow_same: LIMIT and OFFSET share rank 4 and may come in
            # either order (LimitOffsetClauses); each-at-most-once is
            # checked at their parse sites
            nonlocal mod_rank
            if rank < mod_rank or (rank == mod_rank and not allow_same):
                raise SyntaxError(
                    f"SPARQL: {clause} out of order (solution modifiers are "
                    "GROUP BY, HAVING, ORDER BY, then LIMIT/OFFSET)"
                )
            mod_rank = rank

        while True:
            if self.accept("KW", "group"):
                mod("GROUP BY", 1)
                self.expect("KW", "by")
                # GroupCondition: ?var | (expr) | (expr AS ?var) | BuiltInCall
                while True:
                    t = self.peek()
                    if t.kind == "VAR":
                        self.next()
                        q.group_by.append(t.value[1:])
                    elif t.kind == "OP" and t.value == "(":
                        self.next()
                        e = self.parse_expr()
                        if self.accept("KW", "as"):
                            alias = self.expect("VAR").value[1:]
                        else:
                            alias = f"__groupexpr{len(q.group_by)}"
                        self.expect("OP", ")")
                        q.group_by.append((alias, e))
                    elif t.kind == "PNAME" and not t.value.endswith(":") and self.peek(1).value == "(":
                        alias = f"__groupexpr{len(q.group_by)}"
                        q.group_by.append((alias, self.parse_primary()))
                    else:
                        break
            elif self.accept("KW", "having"):
                mod("HAVING", 2)
                # HavingClause ::= 'HAVING' HavingCondition+ — one clause,
                # one or more bracketted conditions
                self.expect("OP", "(")
                q.having.append(self.parse_expr())
                self.expect("OP", ")")
                while self.peek().kind == "OP" and self.peek().value == "(":
                    self.expect("OP", "(")
                    q.having.append(self.parse_expr())
                    self.expect("OP", ")")
            elif self.accept("KW", "order"):
                mod("ORDER BY", 3)
                self.expect("KW", "by")
                n_before_order = len(q.order_by)
                while True:
                    t = self.peek()
                    if t.kind == "KW" and t.value in ("asc", "desc"):
                        self.next()
                        asc = t.value == "asc"
                        self.expect("OP", "(")
                        e = self.parse_expr()
                        self.expect("OP", ")")
                        q.order_by.append((e, asc))
                    elif t.kind == "VAR":
                        self.next()
                        q.order_by.append((("var", t.value[1:]), True))
                    elif t.kind == "OP" and t.value == "(":
                        self.next()
                        e = self.parse_expr()
                        self.expect("OP", ")")
                        q.order_by.append((e, True))
                    elif t.kind == "PNAME" and not t.value.endswith(":") and self.peek(1).value == "(":
                        # bare BuiltInCall/FunctionCall order condition,
                        # e.g. ORDER BY STRLEN(?n)
                        q.order_by.append((self.parse_primary(), True))
                    else:
                        break
                if len(q.order_by) == n_before_order:
                    raise SyntaxError("SPARQL: ORDER BY needs at least one condition")
            elif self.accept("KW", "limit"):
                # grammar: LIMIT INTEGER (unsigned, at most once)
                mod("LIMIT", 4, allow_same=True)
                if q.limit is not None:
                    raise SyntaxError("SPARQL: LIMIT given twice")
                q.limit = int(self.expect("NUM").value)
                if q.limit < 0:
                    raise SyntaxError("SPARQL: LIMIT must be a non-negative integer")
            elif self.accept("KW", "offset"):
                mod("OFFSET", 4, allow_same=True)
                if q.offset:
                    raise SyntaxError("SPARQL: OFFSET given twice")
                q.offset = int(self.expect("NUM").value)
                if q.offset < 0:
                    raise SyntaxError("SPARQL: OFFSET must be a non-negative integer")
            elif self.accept("KW", "values"):
                q.values_clause = self.parse_values()  # trailing VALUES
            elif self.peek().kind == "EOF" or (
                self.peek().kind == "OP" and self.peek().value == "}"
            ):
                break
            else:
                raise SyntaxError(f"SPARQL: unexpected {self.peek().value!r} after WHERE")
        self._check_select_scope(q)
        return q

    @staticmethod
    def _check_select_scope(q: "Query") -> None:
        """Parse-time projection validation for SELECT queries.

        - §18.2.4.2 (official syntax-SELECTscope tests): a `(expr AS ?v)`
          target must not be already in-scope in the WHERE pattern or a
          GROUP BY key/alias.
        - §18.2.4.1 (official group06/agg-err shapes): in a grouped query
          (explicit GROUP BY, or implicit via an aggregate / HAVING), a
          projected plain variable must be a group key, and variables in
          projection expressions outside aggregates must be group keys or
          earlier projection aliases.
        """
        if q.form != "select":
            return
        group_keys: set = set()
        for g in q.group_by:
            if isinstance(g, str):
                group_keys.add(g)
            else:
                alias, gexpr = g
                group_keys.add(alias)
                if isinstance(gexpr, tuple) and gexpr[0] == "var":
                    # GROUP BY (?x): the condition is the variable itself
                    group_keys.add(gexpr[1])
        where_scope = _inscope_vars(q.where)
        grouped = (
            bool(q.group_by)
            or bool(q.having)
            or any(_contains_agg(e) for _v, e in q.projections if e is not None)
            or any(_contains_agg(e) for e, _asc in q.order_by)
        )
        if q.select_all:
            # §18.2.4.1: SELECT * cannot name group keys, so it is
            # forbidden the moment the query is grouped (explicit GROUP
            # BY, or implicit via HAVING / an aggregate)
            if grouped:
                raise SyntaxError(
                    "SPARQL: SELECT * is not allowed in a grouped query"
                )
            return
        aliases: set = set()
        for v, e in q.projections:
            if e is not None and (v in where_scope or v in group_keys):
                raise SyntaxError(
                    f"SPARQL: SELECT expression target ?{v} is already in scope"
                )
            if grouped:
                if e is None:
                    if v not in group_keys and v not in aliases:
                        raise SyntaxError(
                            f"SPARQL: ?{v} in the SELECT of a grouped query "
                            "must be a GROUP BY key or aggregated"
                        )
                else:
                    bad = _vars_outside_aggs(e) - group_keys - aliases
                    if bad:
                        raise SyntaxError(
                            "SPARQL: non-group-key variable(s) "
                            f"{sorted('?' + b for b in bad)} used outside an "
                            "aggregate in a grouped query's SELECT expression"
                        )
            if e is not None:
                aliases.add(v)
        if grouped:
            # the same non-group-key rule applies to HAVING and ORDER BY
            # expressions (they evaluate over the grouped solution, where
            # only group keys, SELECT aliases and aggregates are bound)
            for hexpr in q.having:
                bad = _vars_outside_aggs(hexpr) - group_keys - aliases
                if bad:
                    raise SyntaxError(
                        "SPARQL: non-group-key variable(s) "
                        f"{sorted('?' + b for b in bad)} used outside an "
                        "aggregate in HAVING"
                    )
            for oexpr, _asc in q.order_by:
                bad = _vars_outside_aggs(oexpr) - group_keys - aliases
                if bad:
                    raise SyntaxError(
                        "SPARQL: non-group-key variable(s) "
                        f"{sorted('?' + b for b in bad)} used outside an "
                        "aggregate in ORDER BY of a grouped query"
                    )

    def parse_group(self) -> list:
        """GroupGraphPattern -> element list."""
        self.expect("OP", "{")
        elems: list = []
        while not self.accept("OP", "}"):
            t = self.peek()
            if t.kind == "KW" and t.value == "optional":
                self.next()
                elems.append(("optional", self.parse_group()))
            elif t.kind == "KW" and t.value == "minus":
                self.next()
                elems.append(("minus", self.parse_group()))
            elif t.kind == "KW" and t.value == "filter":
                self.next()
                elems.append(("filter", self.parse_filter_constraint()))
            elif t.kind == "KW" and t.value == "bind":
                self.next()
                self.expect("OP", "(")
                e = self.parse_expr()
                self.expect("KW", "as")
                v = self.expect("VAR").value[1:]
                self.expect("OP", ")")
                # grammar note 12 (§19.8): the BIND target must not be
                # already used in the group up to this point — checked
                # against the in-scope variables of the preceding
                # siblings (FILTER/MINUS vars are not in scope)
                if v in _inscope_vars(elems):
                    raise SyntaxError(
                        f"SPARQL: BIND target ?{v} is already in scope in this group"
                    )
                elems.append(("bind", e, v))
            elif t.kind == "KW" and t.value == "values":
                self.next()
                elems.append(self.parse_values())
            elif t.kind == "KW" and t.value == "graph":
                # GRAPH VarOrIri GroupGraphPattern — named-graph scope over
                # the store's ctx column (quads are first-class in the
                # reference: 6 index permutations,
                # common/.../HalyardTableUtils.java:267,282-287)
                self.next()
                g_term = self.parse_term()
                if g_term[0] not in ("var", "iri"):
                    raise SyntaxError("SPARQL: GRAPH needs a variable or IRI")
                elems.append(("graph", g_term, self.parse_group()))
            elif t.kind == "KW" and t.value == "service":
                # SERVICE [SILENT] iri GroupGraphPattern — federated pattern
                # against a registered second store
                # (HalyardTupleExprEvaluation.java:630-703, resolver
                # HBaseSail.java:196-222)
                self.next()
                silent = bool(self.accept("KW", "silent"))
                svc_term = self.parse_term()
                if svc_term[0] != "iri":
                    raise SyntaxError("SPARQL: SERVICE endpoint must be an IRI")
                elems.append(("service", svc_term, self.parse_group(), silent))
            elif t.kind == "OP" and t.value == "{":
                # subquery / group (possibly a UNION chain)
                g = self.parse_group_or_subquery()
                while self.accept("KW", "union"):
                    g = ("union", g, self.parse_group_or_subquery())
                elems.append(g)
            else:
                elems.extend(self.parse_triples_block())
            self.accept("OP", ".")
        return elems

    def parse_group_or_subquery(self):
        """`{ SELECT ... }` is a subquery (own projection scope); anything
        else is a plain nested group."""
        if self.peek().kind == "OP" and self.peek().value == "{" and (
            self.peek(1).kind == "KW" and self.peek(1).value == "select"
        ):
            self.expect("OP", "{")
            sub = self.parse_query_body()
            self.expect("OP", "}")
            if sub.form != "select":
                raise SyntaxError("SPARQL: only SELECT subqueries are supported")
            return ("subquery", sub)
        return ("group", self.parse_group())

    def parse_filter_constraint(self):
        if self.peek().kind == "KW" and self.peek().value in ("exists", "not"):
            negate = self.accept("KW", "not")
            self.expect("KW", "exists")
            return ("exists", self.parse_group(), negate)
        if self.peek().kind == "OP" and self.peek().value == "(":
            self.next()
            e = self.parse_expr()
            self.expect("OP", ")")
            return e
        # FILTER BuiltInCall / FunctionCall without outer parens,
        # e.g. FILTER regex(?x, "a") — valid per the Constraint production
        return self.parse_primary()

    def parse_values(self):
        single = self.peek().kind == "VAR"
        vars_: list[str] = []
        if single:
            vars_.append(self.next().value[1:])
        else:
            self.expect("OP", "(")
            while self.peek().kind == "VAR":
                v = self.next().value[1:]
                if v in vars_:
                    raise SyntaxError(
                        f"SPARQL: variable ?{v} appears more than once in VALUES"
                    )
                vars_.append(v)
            self.expect("OP", ")")
        self.expect("OP", "{")
        rows = []
        while not self.accept("OP", "}"):
            if single:
                rows.append((self.parse_values_term(),))
            else:
                self.expect("OP", "(")
                row = []
                while not self.accept("OP", ")"):
                    row.append(self.parse_values_term())
                if len(row) != len(vars_):
                    raise SyntaxError(
                        f"SPARQL: VALUES row has {len(row)} terms for {len(vars_)} variables"
                    )
                rows.append(tuple(row))
        return ("values", vars_, rows)

    def parse_values_term(self):
        if self.accept("KW", "undef"):
            return None
        term = self.parse_term()
        return self.term_lexical(term)

    def parse_triples_block(self) -> list:
        """subject (predicate objectList (';' predicate objectList)*)"""
        elems = []
        s = self.parse_term()
        while True:
            p = self.parse_verb()
            while True:
                o = self.parse_term()
                elems.append(("triple", s, p, o))
                if not self.accept("OP", ","):
                    break
            if not self.accept("OP", ";"):
                break
            if self.peek().kind == "OP" and self.peek().value in (".", "}"):
                break
        if self._pending:  # triples from [ p o ] property lists
            elems.extend(self._pending)
            self._pending = []
        return elems

    def parse_verb(self):
        """Verb position: a variable, or a SPARQL 1.1 property path.

        Full path algebra (sequence / alternative / inverse / negated set /
        closure modifiers), the shapes RDF4J's parser hands the reference's
        evaluator (HalyardTupleExprEvaluation.java:1073-1098).  A path that
        reduces to a single IRI is returned as a plain ('iri', ...) term so
        the statement-pattern fast path stays unchanged.
        """
        if self.peek().kind == "VAR":
            return self.parse_term()
        path = self.parse_path()
        if path[0] == "link":
            return ("iri", path[1])
        return ("pathexpr", path)

    # Path grammar (SPARQL 1.1 §9.1):
    #   Path          := PathSequence ('|' PathSequence)*
    #   PathSequence  := PathEltOrInverse ('/' PathEltOrInverse)*
    #   PathEltOrInv  := '^'? PathElt
    #   PathElt       := PathPrimary ('?' | '*' | '+')?
    #   PathPrimary   := iri | 'a' | '!' PathNegatedSet | '(' Path ')'
    # AST: ('link', iri) | ('inv', p) | ('seq', [p..]) | ('alt', [p..])
    #    | ('mod', p, '?'|'*'|'+') | ('nps', [fwd iris], [inv iris])
    def parse_path(self):
        alts = [self.parse_path_sequence()]
        while self.accept("OP", "|"):
            alts.append(self.parse_path_sequence())
        return alts[0] if len(alts) == 1 else ("alt", alts)

    def parse_path_sequence(self):
        elts = [self.parse_path_elt_or_inverse()]
        while self.accept("OP", "/"):
            elts.append(self.parse_path_elt_or_inverse())
        return elts[0] if len(elts) == 1 else ("seq", elts)

    def parse_path_elt_or_inverse(self):
        if self.accept("OP", "^"):
            return ("inv", self.parse_path_elt())
        return self.parse_path_elt()

    def parse_path_elt(self):
        p = self.parse_path_primary()
        t = self.peek()
        if t.kind == "OP" and t.value in ("+", "*", "?"):
            self.next()
            return ("mod", p, t.value)
        return p

    def parse_path_primary(self):
        t = self.peek()
        if t.kind == "OP" and t.value == "(":
            self.next()
            p = self.parse_path()
            self.expect("OP", ")")
            return p
        if t.kind == "OP" and t.value == "!":
            self.next()
            return self.parse_path_negated_set()
        if t.kind == "KW" and t.value == "a":
            self.next()
            return ("link", nt.RDF + "type")
        term = self.parse_term()
        if term[0] != "iri":
            raise SyntaxError(f"SPARQL: property path element must be an IRI, got {term[0]}")
        return ("link", term[1])

    def parse_path_negated_set(self):
        fwd: list[str] = []
        inv: list[str] = []

        def one():
            rev = self.accept("OP", "^")
            if self.peek().kind == "KW" and self.peek().value == "a":
                self.next()
                iri = nt.RDF + "type"
            else:
                term = self.parse_term()
                if term[0] != "iri":
                    raise SyntaxError("SPARQL: negated property set members must be IRIs")
                iri = term[1]
            (inv if rev else fwd).append(iri)

        if self.accept("OP", "("):
            if not (self.peek().kind == "OP" and self.peek().value == ")"):
                one()
                while self.accept("OP", "|"):
                    one()
            self.expect("OP", ")")
        else:
            one()
        if not fwd and not inv:
            raise SyntaxError("SPARQL: negated property set needs at least one member")
        return ("nps", fwd, inv)

    def parse_term(self):
        t = self.next()
        if t.kind == "VAR":
            return ("var", t.value[1:])
        if t.kind == "OP" and t.value == "(":
            # RDF collection ( e1 e2 ... ): rdf:first/rest chain of
            # anonymous pattern bnodes; () is rdf:nil (SPARQL §4.1.5)
            items = []
            while not (self.peek().kind == "OP" and self.peek().value == ")"):
                items.append(self.parse_term())
            self.expect("OP", ")")
            if not items:
                return ("iri", nt.RDF + "nil")
            nodes = [("var", self._anon_var()) for _ in items]
            first = ("iri", nt.RDF + "first")
            rest = ("iri", nt.RDF + "rest")
            for i, (node, item) in enumerate(zip(nodes, items)):
                self._pending.append(("triple", node, first, item))
                nxt = nodes[i + 1] if i + 1 < len(nodes) else ("iri", nt.RDF + "nil")
                self._pending.append(("triple", node, rest, nxt))
            return nodes[0]
        if t.kind == "OP" and t.value == "[":
            # blank-node property list: [] or [ p1 o1 ; p2 o2 ] — the node
            # is an anonymous variable (SPARQL pattern bnodes are
            # non-projectable variables); inner triples queue on _pending
            v = ("var", self._anon_var())
            if not self.accept("OP", "]"):
                while True:
                    p = self.parse_verb()
                    while True:
                        o = self.parse_term()
                        self._pending.append(("triple", v, p, o))
                        if not self.accept("OP", ","):
                            break
                    if not self.accept("OP", ";"):
                        break
                    if self.peek().kind == "OP" and self.peek().value == "]":
                        break
                self.expect("OP", "]")
            return v
        if t.kind == "PNAME" and t.value.startswith("_:"):
            # labeled pattern bnode: acts as a variable scoped to the query
            return ("var", "__bnode_" + t.value[2:])
        if t.kind == "IRI":
            return ("iri", self._resolve(t.value[1:-1]))
        if t.kind == "PNAME":
            prefix, _, local = t.value.partition(":")
            if prefix not in self.prefixes:
                raise SyntaxError(f"SPARQL: unknown prefix {prefix!r}")
            # PN_LOCAL_ESC (grammar §19.8): '\,' etc. escape the char into
            # the IRI; %XX percent-encodings are retained verbatim
            local = re.sub(r"\\(.)", r"\1", local)
            return ("iri", self.prefixes[prefix] + local)
        if t.kind == "STRING":
            label = _unescape_string(t.value)
            if self.peek().kind == "LANGTAG":
                return ("lit", label, self.next().value[1:], None)
            if self.peek().kind == "OP" and self.peek().value == "^^":
                self.next()
                dt = self.parse_term()
                if dt[0] != "iri":
                    raise SyntaxError("SPARQL: datatype must be an IRI")
                return ("lit", label, None, dt[1])
            return ("lit", label, None, None)
        if t.kind == "NUM":
            return ("num", t.value)
        if t.kind == "KW" and t.value in ("true", "false"):
            return ("bool", t.value == "true")
        raise SyntaxError(f"SPARQL: unexpected term {t.value!r}")

    @staticmethod
    def term_lexical(term) -> str | None:
        """AST term -> stored N-Triples lexical string."""
        kind = term[0]
        if kind == "iri":
            return nt.iri(term[1])
        if kind == "lit":
            return nt.lit(term[1], lang=term[2], dtype=term[3])
        if kind == "num":
            # SPARQL grammar typing: INTEGER -> xsd:integer, DECIMAL ->
            # xsd:decimal, DOUBLE -> xsd:double — a pattern/VALUES literal
            # 30 must equi-match the stored term "30"^^xsd:integer
            v = term[1].lstrip("+")
            if re.fullmatch(r"-?\d+", v):
                dt = nt.XSD + "integer"
            elif "e" in v.lower():
                dt = nt.XSD + "double"
            else:
                dt = nt.XSD + "decimal"
            return nt.lit(v, dtype=dt)
        if kind == "bool":
            return nt.lit("true" if term[1] else "false", dtype=nt.XSD + "boolean")
        raise ValueError(f"not a constant term: {term}")

    # -- expressions (precedence climbing)
    def parse_expr(self):
        return self.parse_or()

    def parse_or(self):
        e = self.parse_and()
        while self.accept("OP", "||"):
            e = ("or", e, self.parse_and())
        return e

    def parse_and(self):
        e = self.parse_relational()
        while self.accept("OP", "&&"):
            e = ("and", e, self.parse_relational())
        return e

    def parse_relational(self):
        e = self.parse_additive()
        t = self.peek()
        if t.kind == "OP" and t.value in ("=", "!=", "<", ">", "<=", ">="):
            self.next()
            return ("cmp", t.value, e, self.parse_additive())
        if t.kind == "KW" and t.value == "in":
            self.next()
            self.expect("OP", "(")
            items = []
            while not self.accept("OP", ")"):
                items.append(self.parse_expr())
                self.accept("OP", ",")
            return ("in", e, items)
        if t.kind == "KW" and t.value == "not" and self.peek(1).value == "in":
            self.next(); self.next()
            self.expect("OP", "(")
            items = []
            while not self.accept("OP", ")"):
                items.append(self.parse_expr())
                self.accept("OP", ",")
            return ("not", ("in", e, items))
        return e

    def parse_additive(self):
        e = self.parse_multiplicative()
        while True:
            t = self.peek()
            if t.kind == "OP" and t.value in ("+", "-"):
                op = self.next().value
                e = ("arith", op, e, self.parse_multiplicative())
            elif t.kind == "NUM" and t.value[0] in "+-":
                # '?a+1' tokenizes the sign into the number (SPARQL's own
                # grammar note §19.2): split it back into op + operand —
                # and keep multiplicative precedence for what follows
                # ('1+2*3' must parse as 1+(2*3))
                self.next()
                rhs = ("num", t.value[1:])
                while self.peek().kind == "OP" and self.peek().value in ("*", "/"):
                    op2 = self.next().value
                    rhs = ("arith", op2, rhs, self.parse_unary())
                e = ("arith", t.value[0], e, rhs)
            else:
                break
        return e

    def parse_multiplicative(self):
        e = self.parse_unary()
        while self.peek().kind == "OP" and self.peek().value in ("*", "/"):
            op = self.next().value
            e = ("arith", op, e, self.parse_unary())
        return e

    def parse_unary(self):
        if self.accept("OP", "!"):
            return ("not", self.parse_unary())
        if self.accept("OP", "-"):
            return ("neg", self.parse_unary())
        if self.accept("OP", "+"):
            return self.parse_unary()
        return self.parse_primary()

    _AGGREGATES = {"count", "sum", "min", "max", "avg", "group_concat", "sample"}

    def parse_primary(self):
        t = self.peek()
        if t.kind == "OP" and t.value == "(":
            self.next()
            e = self.parse_expr()
            self.expect("OP", ")")
            return e
        if t.kind == "PNAME" and not t.value.endswith(":") and self.peek(1).value == "(":
            name = self.next().value.lower()
            if ":" in name:  # prefixed function, e.g. xsd:double
                prefix, _, local = name.partition(":")
                base = self.prefixes.get(prefix, prefix + ":")
                name = base + local
            return self.parse_call(name)
        if t.kind == "KW" and t.value in ("exists", "not"):
            return self.parse_filter_constraint()
        if t.kind in ("VAR", "IRI", "STRING", "NUM", "PNAME") or (
            t.kind == "KW" and t.value in ("true", "false", "a")
        ):
            return self.parse_term()
        raise SyntaxError(f"SPARQL: unexpected expression token {t.value!r}")

    def parse_call(self, name: str):
        self.expect("OP", "(")
        distinct = False
        if self.accept("KW", "distinct"):
            distinct = True
        args = []
        sep = " "
        if name == "count" and self.accept("OP", "*"):
            args.append(("star",))
        else:
            while not (self.peek().kind == "OP" and self.peek().value == ")"):
                args.append(self.parse_expr())
                if not self.accept("OP", ","):
                    break
            # GROUP_CONCAT(expr; SEPARATOR="x")
            if self.accept("OP", ";"):
                self.expect("PNAME")  # 'separator' tokenizes as PNAME
                self.expect("OP", "=")
                sep = _unescape_string(self.expect("STRING").value)
        self.expect("OP", ")")
        if name in self._AGGREGATES:
            if not args:
                raise SyntaxError(f"SPARQL: {name.upper()}() needs an expression or *")
            return ("agg", name, distinct, args, sep)
        if ":" not in name:  # a keyword builtin: the grammar fixes its arity
            _builtin(name, len(args), SyntaxError)
        return ("call", name, args)


def _unescape_string(raw: str) -> str:
    if raw[:3] in ('"' * 3, "'" * 3):
        return nt.unescape(raw[3:-3])
    return nt.unescape(raw[1:-1])


# -------------------------------------------------------------- planner

_EXPR_TERM = "term"   # N-Triples lexical string column
_EXPR_NUM = "num"
_EXPR_STR = "str"
_EXPR_BOOL = "bool"


def _var_kind(dtype: DataType) -> str:
    """The kind of a solution column: a pattern variable holds N-Triples
    strings, while BIND and aggregate columns keep their Spark type
    (exprs.as_term renders them where they meet terms)."""
    if isinstance(dtype, NumericType):
        return _EXPR_NUM
    if isinstance(dtype, BooleanType):
        return _EXPR_BOOL
    return _EXPR_TERM


def _bound(term) -> bool:
    """Whether a pattern term narrows its scan to one value: a constant,
    but not the halyard:search literal, which matches many objects."""
    return term[0] != "var" and not (term[0] == "lit" and term[3] == FT.SEARCH_DATATYPE)


class _Planner:
    def __init__(
        self,
        triples: DataFrame,
        parser: _Parser,
        services: dict[str, DataFrame] | None = None,
    ):
        self.triples = triples
        self.parser = parser
        self.spark = triples.sparkSession
        self.services = services or {}
        # graph scope: None = all graphs (the reference reads every context
        # when no dataset is given — HBaseSail scans with no ctx bound);
        # otherwise the GRAPH term ('iri', g) or ('var', v)
        self.graph: tuple | None = None
        # RDF dataset from FROM / FROM NAMED (lists of ctx lexicals, or
        # None each when no clause of that kind was given)
        self.dataset: tuple[list | None, list | None] = (None, None)
        # the pre-projection columns BNODE() seeds from while a SELECT
        # projects (None: every column of the frame being evaluated)
        self._solution_cols: frozenset | None = None
        self._fresh_n = 0
        # set once a _VOLATILE builtin is evaluated: the plan's values
        # differ per execution, so it must not be executed twice
        self.volatile = False

    def _fresh_var(self) -> str:
        self._fresh_n += 1
        return f"__pathvar{self._fresh_n}"

    def _unit(self) -> DataFrame:
        """One row, zero columns — the empty solution mapping (a BIND- or
        VALUES-first group extends it)."""
        return self.spark.range(1).select()

    # -- group evaluation
    @staticmethod
    def _reorder_bgp(run: list) -> list:
        """Greedy selectivity ordering of a contiguous triple-pattern run —
        the HalyardQueryJoinOptimizer heuristic (cardinality 10^#unbound,
        HalyardEvaluationStatistics.java:113-116): start from the most
        selective pattern, then repeatedly take the cheapest pattern that
        shares a variable with the bound set (avoiding cartesian products
        unless unavoidable).  Catalyst's CBO cannot do this reordering
        here — derived DataFrames carry no table stats — and AQE only
        re-plans strategies, not join order.  Deterministic and stable on
        ties, so plans don't wobble between runs."""
        def positions(t):
            return (t[1], t[2], t[3])

        remaining = list(enumerate(run))
        bound: set[str] = set()
        out = []
        while remaining:
            def cost(item):
                idx, t = item
                unbound = sum(
                    1 for term in positions(t) if term[0] == "var" and term[1] not in bound
                )
                consts = sum(1 for term in positions(t) if term[0] not in ("var",))
                shares = any(
                    term[0] == "var" and term[1] in bound for term in positions(t)
                )
                cartesian = 0 if (shares or not bound) else 1
                return (cartesian, unbound, -consts, idx)

            best = min(remaining, key=cost)
            remaining.remove(best)
            out.append(best[1])
            for term in positions(best[1]):
                if term[0] == "var":
                    bound.add(term[1])
        return out

    @classmethod
    def _reorder_elems(cls, elems: list) -> list:
        """Reorder only CONTIGUOUS runs of triple patterns (join order
        within a BGP is free; moving patterns across OPTIONAL / MINUS /
        BIND / subquery boundaries would change semantics)."""
        out: list = []
        run: list = []
        for el in elems:
            if el[0] == "triple":
                run.append(el)
            else:
                if run:
                    out.extend(cls._reorder_bgp(run))
                    run = []
                out.append(el)
        if run:
            out.extend(cls._reorder_bgp(run))
        return out

    def eval_group(
        self,
        elems: list,
        report_unbound: set | None = None,
        lift_filters: list | None = None,
    ) -> DataFrame:
        """lift_filters: when the caller is translating `OPTIONAL { ... }`,
        this group's TOP-LEVEL filters are appended there instead of
        applied — §18.2.2.5 makes them the LeftJoin condition, evaluated
        over the MERGED solution (they see the outer bindings)."""
        df: DataFrame | None = None
        filters = []
        pending_values: list[tuple[DataFrame, set]] = []
        # columns of `df` that may hold NULL-as-UNBOUND (VALUES UNDEF
        # cells, OPTIONAL-introduced vars, BIND error->unbound).  Joins on
        # such columns need SPARQL compatibility semantics (NULL matches
        # anything) instead of the null-rejecting equi-join; plain BGP
        # queries keep the pure equi-join fast path (set stays empty).
        maybe_unbound: set[str] = set()

        def join_part(
            cur: DataFrame | None,
            part: DataFrame,
            nonnull_part: bool = False,
            part_unbound: set | None = None,
        ) -> DataFrame:
            """Join a pattern/sub-solution into the group, compat-aware on
            columns that may be NULL-as-unbound on EITHER side."""
            part_unbound = part_unbound or set()
            if cur is None:
                maybe_unbound.update(part_unbound)
                return part
            shared = set(part.columns) & set(cur.columns)
            if (maybe_unbound | part_unbound) & shared:
                out = A.values_join(cur, part)
            else:
                out = A.bgp_join(cur, part)
            maybe_unbound.update(part_unbound - shared)
            # shared cols come out of the join coalesced: they stay
            # maybe-unbound only when BOTH sides could be null (already in
            # maybe_unbound); a never-null scan side clears them entirely
            if nonnull_part:
                maybe_unbound.difference_update(shared)
            return out

        def flush_values(cur: DataFrame | None) -> DataFrame | None:
            """Merge deferred leading VALUES tables into the solution.

            A VALUES table with a df already in scope joins IN PLACE at
            its textual position (SPARQL §10.2 translates inline data to a
            Join there).  A LEADING VALUES is deferred only until the
            first pattern exists — so UNDEF wildcards merge against bound
            columns via values_join — and MUST be flushed before any
            order-sensitive operator (OPTIONAL / MINUS / BIND)."""
            for vt, undef in pending_values:
                cur = vt if cur is None else A.values_join(cur, vt)
                maybe_unbound.update(undef)
            pending_values.clear()
            return cur

        for el in self._reorder_elems(elems):
            kind = el[0]
            if kind == "triple":
                pat = self.eval_triple(el[1], el[2], el[3])
                df = join_part(df, pat, nonnull_part=True)
            elif kind == "group":
                sub_unbound: set = set()
                sub = self.eval_group(el[1], report_unbound=sub_unbound)
                df = join_part(df, sub, part_unbound=sub_unbound)
            elif kind == "subquery":
                sub_unbound = set()
                sub = self.plan_select(el[1], report_unbound=sub_unbound)
                df = join_part(df, sub, part_unbound=sub_unbound)
            elif kind == "union":
                sub_unbound = set()
                sub = self.eval_union(el, report_unbound=sub_unbound)
                df = join_part(df, sub, part_unbound=sub_unbound)
            elif kind == "graph":
                prev = self.graph
                self.graph = el[1]
                sub_unbound = set()
                try:
                    if not el[2] and el[1][0] == "var":
                        # GRAPH ?g {} = μ0 once per named graph in the
                        # dataset, ?g bound to the graph name — the
                        # standard list-the-graphs idiom
                        sub = (
                            self._scoped()
                            .select(F.col("ctx").alias(el[1][1]))
                            .distinct()
                        )
                    else:
                        sub = self.eval_group(el[2], report_unbound=sub_unbound)
                finally:
                    self.graph = prev
                df = join_part(df, sub, part_unbound=sub_unbound)
            elif kind == "service":
                sub_unbound = set()
                sub = self.eval_service(el[1], el[2], el[3], report_unbound=sub_unbound)
                if sub is not None:  # None = SILENT fallback (unit solution)
                    df = join_part(df, sub, part_unbound=sub_unbound)
            elif kind == "optional":
                df = flush_values(df)
                if df is None:
                    # group starts with OPTIONAL: LeftJoin(μ0, P) — the
                    # optional's solutions, or μ0 alone if it's empty
                    df = self._unit()
                before = set(df.columns)
                sub_unbound = set()
                lifted: list = []
                right = self.eval_group(
                    el[1], report_unbound=sub_unbound, lift_filters=lifted
                )
                # wildcard on cols unbound-able on EITHER side (a nested
                # OPTIONAL/BIND inside the group can emit NULL bindings)
                wc = maybe_unbound | sub_unbound
                inner_only = set(right.columns) - before - wc
                if not lifted:
                    df = A.optional_join(df, right, wildcard_cols=wc)
                elif _expr_vars(lifted) <= inner_only:
                    # the filter can't see an outer binding (every free
                    # var is introduced by — and only by — the optional
                    # side): filtering the right side first is equivalent
                    # and keeps the single left_outer join plan
                    right = self._apply_filters(right, lifted, sub_unbound)
                    df = A.optional_join(df, right, wildcard_cols=wc)
                else:
                    # §18.2.2.5: the filter IS the LeftJoin condition —
                    # evaluate it over the merged solution, then restore
                    # left rows whose every extension failed it
                    merged, finish = A.optional_join_parts(df, right, wildcard_cols=wc)
                    df = finish(self._apply_filters(merged, lifted, wc))
                # vars introduced by the OPTIONAL side may be unbound
                maybe_unbound.update(set(right.columns) - before)
                # wildcard-joined vars were coalesced with the right side
                # but stay unbound when the OPTIONAL found no match
            elif kind == "minus":
                df = flush_values(df)
                if df is None:
                    # group starts with MINUS: Minus(μ0, P) keeps μ0 —
                    # dom(μ0) is disjoint from every right solution
                    df = self._unit()
                sub_unbound = set()
                right = self.eval_group(el[1], report_unbound=sub_unbound)
                df = A.minus(df, right, wildcard_cols=maybe_unbound | sub_unbound)
            elif kind == "bind":
                df = flush_values(df)  # BIND reads in-scope bindings, incl. a leading VALUES
                if df is None:
                    df = self._unit()  # { BIND(...) ... } extends the empty solution
                if el[2] in df.columns:
                    # §10.1: the BIND target must not be in-scope from the
                    # preceding elements of the group (a static error)
                    raise SyntaxError(
                        f"SPARQL: BIND would rebind in-scope variable ?{el[2]}"
                    )
                df, bexpr, markers = self._materialize_exists(
                    df, el[1], maybe_unbound
                )
                col, _k = self.eval_expr(bexpr, df)
                df = df.withColumn(el[2], E.bind_safe(col))
                if markers:
                    df = df.drop(*markers)
                maybe_unbound.add(el[2])  # expression errors -> unbound
            elif kind == "values":
                vt = self.eval_values(el)
                undef = {
                    v for i, v in enumerate(el[1])
                    if any(row[i] is None for row in el[2])
                }
                if df is None:
                    pending_values.append((vt, undef))
                else:
                    df = A.values_join(df, vt)
                    maybe_unbound.update(undef)
            elif kind == "filter":
                filters.append(el[1])
            else:
                raise ValueError(f"SPARQL: unhandled group element {kind}")
        df = flush_values(df)
        if df is None:
            # `WHERE {}` / `{}`: the empty group pattern evaluates to the
            # multiset holding exactly the empty solution mapping μ0
            # (SPARQL 1.1 §18.5 — BGP() over any graph), not an error
            df = self._unit()
        if lift_filters is not None:
            lift_filters.extend(filters)
        else:
            df = self._apply_filters(df, filters, maybe_unbound)
        if report_unbound is not None:
            report_unbound.update(maybe_unbound)
        return df

    def _materialize_exists(self, df: DataFrame, expr, wildcard: set):
        """Rewrite ``("exists", group, negate)`` nodes ANYWHERE inside a
        value expression into boolean marker COLUMNS, so EXISTS works in
        every expression position (§17.4.1.4 evaluates it per solution:
        BIND, ``||``/``!``, IF, SELECT expressions, ORDER BY — not just
        as a top-level FILTER conjunct, which _apply_filters plans as a
        semi-join).

        Returns ``(df', expr', markers)``: each marker holds TRUE iff
        the sub-pattern has a compatible solution for that row.  The
        flag is computed with the same exists_filter semantics (incl.
        null-as-unbound wildcards) over the DISTINCT shared-variable key
        set, then re-attached with a null-safe equi-join — one
        aggregation + one join per EXISTS node, no row multiplication.
        Callers drop ``markers`` after evaluating ``expr'``."""
        markers: list[str] = []

        def walk(e):
            nonlocal df
            if isinstance(e, list):
                return [walk(x) for x in e]
            if not isinstance(e, tuple):
                return e
            if e[0] == "exists":
                sub = self.eval_group(e[1])
                shared = [c for c in df.columns if c in set(sub.columns)]
                self._exv_n = getattr(self, "_exv_n", 0) + 1
                name = f"__exv{self._exv_n}"
                if not shared:
                    # no shared vars: the flag is row-independent
                    df = df.withColumn(name, F.lit(bool(sub.take(1))))
                else:
                    keys = df.select(*shared).distinct()
                    matched = A.exists_filter(
                        keys, sub, negate=False, wildcard_cols=wildcard
                    ).withColumn(name, F.lit(True))
                    for c in shared:
                        matched = matched.withColumnRenamed(c, f"__exk_{c}")
                    cond = reduce(
                        lambda a, b: a & b,
                        [df[c].eqNullSafe(matched[f"__exk_{c}"]) for c in shared],
                    )
                    df = df.join(matched, on=cond, how="left").drop(
                        *[f"__exk_{c}" for c in shared]
                    )
                markers.append(name)
                return ("existsval", name, e[2])
            return tuple(walk(x) for x in e)

        rewritten = walk(expr)  # walk reassigns df — rewrite FIRST
        return df, rewritten, markers

    def _apply_filters(self, df: DataFrame, filters: list, wildcard: set) -> DataFrame:
        """Apply FILTER expressions to a solution set.  Top-level && is
        split so EXISTS conjuncts can be planned as semi/anti joins
        alongside ordinary boolean conjuncts — FILTER(A && EXISTS {...})
        is the common nested-EXISTS form (the official suite's
        exists-within-expression cases)."""

        def conjuncts(f):
            if f[0] == "and":
                return conjuncts(f[1]) + conjuncts(f[2])
            if f[0] == "not" and f[1][0] == "exists":
                inner = f[1]
                return [("exists", inner[1], not inner[2])]
            return [f]

        for f0 in filters:  # FILTER scopes over the whole group
            for f in conjuncts(f0):
                if f[0] == "exists":
                    df = A.exists_filter(
                        df, self.eval_group(f[1]), negate=f[2], wildcard_cols=wildcard
                    )
                else:
                    # EXISTS nested below the top-level conjuncts (inside
                    # ||, !, IF, ...) becomes a per-row boolean column
                    df, f, markers = self._materialize_exists(df, f, wildcard)
                    col, k = self.eval_expr(f, df)
                    df = df.filter(E.filter_cond(self.to_bool(col, k)))
                    if markers:
                        df = df.drop(*markers)
        return df

    def eval_union(self, node, report_unbound: set | None = None) -> DataFrame:
        if node[0] == "group":
            return self.eval_group(node[1], report_unbound=report_unbound)
        if node[0] == "subquery":
            return self.plan_select(node[1], report_unbound=report_unbound)
        left = self.eval_union(node[1], report_unbound=report_unbound)
        right = self.eval_union(node[2], report_unbound=report_unbound)
        if report_unbound is not None:
            # union_bag pads variables missing from a branch with NULL
            # (allowMissingColumns): those are NULL-as-UNBOUND, and a
            # later join on them needs compatibility semantics
            report_unbound.update(set(left.columns) ^ set(right.columns))
        return A.union_bag(left, right)

    def eval_service(
        self, term, elems: list, silent: bool, report_unbound: set | None = None
    ) -> DataFrame | None:
        """SERVICE [SILENT]: evaluate the group against a registered second
        store.  SILENT converts a missing endpoint or evaluation failure
        into the unit solution (the join proceeds unchanged) — the
        reference's error-swallowing semantics
        (HalyardTupleExprEvaluation.java:630-703)."""
        store = self.services.get(term[1])
        if store is None:
            if silent:
                return None
            raise ValueError(f"SPARQL SERVICE: no registered endpoint {term[1]!r}")
        sub_planner = _Planner(store, self.parser, services=self.services)
        try:
            df = sub_planner.eval_group(elems, report_unbound=report_unbound)
        except Exception:
            if silent:
                return None
            raise
        self.volatile |= sub_planner.volatile
        return df

    def eval_values(self, el) -> DataFrame:
        _, vars_, rows = el
        schema = ", ".join(f"{v} string" for v in vars_)
        return A.values_table(self.spark, rows, schema)

    def _mirror(self, s_bound: bool, p_bound: bool, o_bound: bool) -> DataFrame:
        """The frame a pattern with these bound positions scans: on a
        StoreFrame, the mirror ``pick_index`` names (Halyard's per-pattern
        index dispatch, HalyardTableUtils.java:300-373); inside GRAPH <g>
        the ctx-led SPO unless pred and obj are both bound, since POS
        cannot prune on ctx.  Any other frame is scanned as given."""
        store = self.triples
        if not isinstance(store, StoreFrame):
            return store
        if self.graph is not None and self.graph[0] != "var" and not (p_bound and o_bound):
            return store
        return store.mirror(pick_index(s_bound, p_bound, o_bound))

    def _scoped(self, df: DataFrame | None = None) -> DataFrame:
        """``df`` (default: the store) narrowed to the current GRAPH
        scope and the query's RDF dataset.  No scope + no dataset = all
        contexts (the reference's unbound-context scan); GRAPH <g> prunes
        to one ctx (partition pruning when the store is ctx-partitioned);
        GRAPH ?g keeps named graphs only (ctx NOT NULL).  With FROM / FROM
        NAMED the W3C dataset applies strictly: FROM merges the listed
        graphs into the default graph, FROM NAMED bounds the GRAPH space,
        and a kind with no clause listed is EMPTY when the other kind is
        present (SPARQL 1.1 §13.2)."""
        df = self.triples if df is None else df
        ds_defaults, ds_named = self.dataset
        has_ds = ds_defaults is not None or ds_named is not None
        if "ctx" not in df.columns and (has_ds or self.graph is not None):
            df = df.withColumn("ctx", F.lit(None).cast("string"))
        if self.graph is None:
            if not has_ds:
                return df
            defaults = ds_defaults or []
            if not defaults:
                return df.where(F.lit(False))
            return df.where(F.col("ctx").isin(defaults))
        if self.graph[0] == "var":
            if has_ds:
                named = ds_named or []
                return df.where(F.col("ctx").isin(named) if named else F.lit(False))
            return df.where(F.col("ctx").isNotNull())
        g = _Parser.term_lexical(self.graph)
        if has_ds and g not in (ds_named or []):
            return df.where(F.lit(False))
        return df.where(F.col("ctx") == g)

    def eval_triple(self, s, p, o) -> DataFrame:
        if p[0] == "pathexpr":
            out = self.eval_path_expr(s, p[1], o)
            internal = [c for c in out.columns if c.startswith("__pathvar")]
            return out.drop(*internal) if internal else out
        df = self._scoped(self._mirror(_bound(s), _bound(p), _bound(o)))
        return self._scan(df, {"subj": s, "pred": p, "obj": o})

    def _scan(self, df: DataFrame, positions: dict) -> DataFrame:
        """Bind one pattern over ``df``: ``positions`` maps quad columns
        to pattern terms.  Constants become equality filters, variables
        bind through pattern.bind_columns (a repeated variable is an
        equality), and inside GRAPH ?g the ctx column binds the graph
        variable for every pattern."""
        if self.graph is not None and self.graph[0] == "var":
            positions = {**positions, "ctx": self.graph}
        bindings = []
        for pos, term in positions.items():
            if term[0] == "var":
                bindings.append((term[1], F.col(pos)))
            elif pos == "obj" and term[0] == "lit" and term[3] == FT.SEARCH_DATATYPE:
                # the reference's magic full-text literal: an object typed
                # halyard:search triggers the search scan instead of an
                # equality filter (HBaseSail.java:392-398,612-683)
                df = df.filter(FT.match_condition(F.col("obj"), term[1]))
            else:
                df = df.filter(F.col(pos) == _Parser.term_lexical(term))
        return bind_columns(df, bindings)

    # -- property paths
    def eval_path_expr(self, s, ast, o) -> DataFrame:
        """Evaluate a path AST between two endpoint terms, returning a
        bindings DataFrame.  Composition rewrites reuse the well-scaled
        primitives: sequence = fresh-var join chain (a bound endpoint's
        constant filter pushes into the first/last scan), alternative = bag
        union, inverse = endpoint swap, negated set = NOT-IN scan; closure
        modifiers route exactly like the round-2 operator — frontier BFS
        from a bound endpoint, frontier BFS from every source for var-var
        (reference: RDF4J path algebra evaluated per-binding,
        HalyardTupleExprEvaluation.java:1073-1098)."""
        kind = ast[0]
        if kind == "link":
            return self.eval_triple(s, ("iri", ast[1]), o)
        if kind == "inv":
            return self.eval_path_expr(o, ast[1], s)
        if kind == "seq":
            cur = s
            df = None
            for i, part in enumerate(ast[1]):
                nxt = o if i == len(ast[1]) - 1 else ("var", self._fresh_var())
                sub = self.eval_path_expr(cur, part, nxt)
                df = sub if df is None else A.bgp_join(df, sub)
                cur = nxt
            return df
        if kind == "alt":
            if all(p[0] == "link" for p in ast[1]):
                # (p1|p2|..|pk) over plain links: ONE scan with pred IN
                # (..) instead of k scan branches — at store scale the
                # union form reads the table k times
                return self.eval_multi_pred(s, [p[1] for p in ast[1]], o)
            outs = [self.eval_path_expr(s, p, o) for p in ast[1]]
            df = outs[0]
            for other in outs[1:]:
                df = A.union_bag(df, other)
            return df
        if kind == "nps":
            return self.eval_nps(s, ast[1], ast[2], o)
        if kind == "mod":
            return self.eval_path_closure(s, ast[1], ast[2], o)
        raise ValueError(f"SPARQL: unhandled path node {kind}")

    def eval_multi_pred(self, s, pred_iris: list[str], o) -> DataFrame:
        """One scan matching any of several predicates (pred IN set),
        binding the endpoints like a triple pattern."""
        df = self._scoped(self._mirror(_bound(s), True, _bound(o)))
        df = df.where(F.col("pred").isin([nt.iri(i) for i in pred_iris]))
        return self._scan(df, {"subj": s, "obj": o})

    def eval_nps(self, s, fwd: list[str], inv: list[str], o) -> DataFrame:
        """Negated property set !(p1|..|^q1|..): forward edges whose
        predicate is outside {p..}, plus inverted edges outside {q..}."""
        def scan(subj_term, obj_term, excluded: list[str]) -> DataFrame:
            df = self._scoped(self._mirror(_bound(subj_term), False, _bound(obj_term)))
            if excluded:
                df = df.where(~F.col("pred").isin([nt.iri(i) for i in excluded]))
            return self._scan(df, {"subj": subj_term, "obj": obj_term})

        parts = []
        if fwd or not inv:  # a pure-inverse set has no forward component
            parts.append(scan(s, o, fwd))
        if inv:
            parts.append(scan(o, s, inv))
        df = parts[0]
        for other in parts[1:]:
            df = A.union_bag(df, other)
        return df

    _GRAPH_SEP = "\x00"  # cannot occur in N-Triples lexicals

    def eval_path_closure(self, s, sub_path, mod: str, o) -> DataFrame:
        """Closure modifier over a sub-path (ArbitraryLengthPath /
        ZeroLengthPath, HTEE:1046-1098).  A bound endpoint routes to the
        frontier-BFS reachable_from — never the whole-graph closure;
        var-var runs transitive_closure (frontier BFS seeded from every
        source, about ceil(D / depth) rounds for diameter D) or
        zero_or_one_path.

        Every node enters the closure under a key: the term itself, or
        "ctx\\x00term" inside GRAPH ?g.  Both ends of an edge carry the
        same prefix, so paths can never cross graph boundaries, and the
        prefix splits back out as the ?g binding — no per-graph loop,
        the same rounds over all graphs at once."""
        from halyard_spark.query import path as PATH

        graph_var = self.graph[1] if (self.graph is not None and self.graph[0] == "var") else None
        sep = self._GRAPH_SEP

        def key(ctx: Column | None, term: Column) -> Column:
            return term if graph_var is None else F.concat(ctx, F.lit(sep), term)

        def term_of(node: Column) -> Column:
            return node if graph_var is None else F.split(node, sep, 2)[1]

        scoped = self._scoped()
        s_var, o_var = s[0] == "var", o[0] == "var"
        if sub_path[0] == "link":  # fast path: single-predicate edge scan
            # the walk filters the edge scan on the bound end's column
            # (``subj`` IN frontier, or ``obj`` IN frontier over reversed
            # edges), so that end counts as bound for the mirror choice
            walked = self._scoped(self._mirror(not s_var, True, s_var and not o_var))
            edges = walked.where(F.col("pred") == nt.iri(sub_path[1])).select(
                key(F.col("ctx"), F.col("subj")).alias("src"),
                key(F.col("ctx"), F.col("obj")).alias("dst"),
            )
        else:
            # COMPOSITE sub-path (seq/alt/inverse/NPS/nested closure):
            # under GRAPH ?g every leaf scan already binds ctx to the
            # graph var and the composition joins on it, so each pair's
            # components live in the SAME graph and key like a link's
            sv, ov = self._fresh_var(), self._fresh_var()
            sub_pairs = self.eval_path_expr(("var", sv), sub_path, ("var", ov))
            ctx = F.col(graph_var) if graph_var is not None else None
            edges = sub_pairs.select(
                key(ctx, F.col(sv)).alias("src"), key(ctx, F.col(ov)).alias("dst")
            )
        if s_var and o_var:
            if mod == "+":
                pairs = PATH.transitive_closure(edges, min_length=1)
            else:
                # zero-length arm: identity over EVERY term in (graph)
                # scope, not just this path's endpoints (W3C
                # ZeroLengthPath; a seq like `p1/p2?` must keep p1 pairs
                # whose object has no p2 edge)
                terms = scoped.select(key(F.col("ctx"), F.col("subj")).alias("n")).union(
                    scoped.select(key(F.col("ctx"), F.col("obj")).alias("n"))
                )
                if mod == "?":
                    pairs = PATH.zero_or_one_path(edges, nodes=terms)
                else:
                    pairs = PATH.transitive_closure(edges, min_length=0, nodes=terms)
            ends = [(s[1], "src"), (o[1], "dst")]
        else:
            # BFS from the bound endpoint; a bound object walks the
            # reversed edges.  Outside a graph the constant is a driver
            # seed (reachable_from's probe); inside GRAPH ?g it is one
            # seed per graph in scope.
            start, end = (o, s) if s_var else (s, o)
            if s_var:
                edges = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            seed = _Parser.term_lexical(start)
            seeds = [seed] if graph_var is None else scoped.select("ctx").distinct().select(
                key(F.col("ctx"), F.lit(seed)).alias("src")
            )
            pairs = PATH.reachable_from(
                edges, seeds, min_length=0 if mod in ("*", "?") else 1,
                max_length=1 if mod == "?" else None,
            )
            if end[0] == "var":
                ends = [(end[1], "dst")]
            else:
                # both endpoints bound (the ASK shape): the one matching
                # pair per seed; with no variable left, the zero-column
                # result acts as an EXISTS gate under bgp_join's cross
                # product
                pairs = pairs.where(term_of(F.col("dst")) == _Parser.term_lexical(end))
                ends = []
        bindings = [(name, term_of(F.col(c))) for name, c in ends]
        if graph_var is not None:
            bindings.insert(0, (graph_var, F.split(F.col("src"), sep, 2)[0]))
        return bind_columns(pairs, bindings)

    # -- expressions
    def eval_expr(self, e, df: DataFrame) -> tuple[Column, str]:
        kind = e[0]
        if kind == "var":
            if e[1] not in df.columns:
                # a variable with no binding in scope evaluates as UNBOUND
                # (an expression error -> NULL), never an analysis crash
                return F.lit(None).cast("string"), _EXPR_TERM
            return F.col(e[1]), _var_kind(df.schema[e[1]].dataType)
        if kind == "havingref":  # pre-computed aggregate column (HAVING rewrite)
            return F.col(e[1]), e[2]
        if kind == "num":
            raw = e[1]
            return (F.lit(int(raw)) if re.fullmatch(r"[+-]?\d+", raw) else F.lit(float(raw))), _EXPR_NUM
        if kind == "lit":
            if e[2] or e[3]:
                return F.lit(nt.lit(e[1], lang=e[2], dtype=e[3])), _EXPR_TERM
            return F.lit(e[1]), _EXPR_STR
        if kind == "iri":
            return F.lit(nt.iri(e[1])), _EXPR_TERM
        if kind == "bool":
            return F.lit(e[1]), _EXPR_BOOL
        if kind == "and":
            a, ka = self.eval_expr(e[1], df)
            b, kb = self.eval_expr(e[2], df)
            return self.to_bool(a, ka) & self.to_bool(b, kb), _EXPR_BOOL
        if kind == "or":
            a, ka = self.eval_expr(e[1], df)
            b, kb = self.eval_expr(e[2], df)
            return self.to_bool(a, ka) | self.to_bool(b, kb), _EXPR_BOOL
        if kind == "not":
            a, ka = self.eval_expr(e[1], df)
            return ~self.to_bool(a, ka), _EXPR_BOOL
        if kind == "neg":
            a, ka = self.eval_expr(e[1], df)
            return -self.to_num(a, ka), _EXPR_NUM
        if kind == "cmp":
            return self.eval_cmp(e[1], e[2], e[3], df), _EXPR_BOOL
        if kind == "in":
            a, ka = self.eval_expr(e[1], df)
            if not e[2]:  # `?x IN ()` is false (so NOT IN () is true), §17.4.1.9
                return F.lit(False), _EXPR_BOOL
            items = [self.eval_expr(i, df) for i in e[2]]
            conds = [self.eval_cmp_cols("=", (a, ka), it) for it in items]
            out = conds[0]
            for c in conds[1:]:
                out = out | c
            return out, _EXPR_BOOL
        if kind == "arith":
            a, ka = self.eval_expr(e[2], df)
            b, kb = self.eval_expr(e[3], df)
            na, nb = self.to_num(a, ka), self.to_num(b, kb)
            op = e[1]
            # try_divide: x/0 is a SPARQL evaluation error (-> unbound /
            # filter-false), not a job abort — ANSI mode even folds a
            # constant 1/0 into a PLAN-time exception otherwise
            col = {"+": na + nb, "-": na - nb, "*": na * nb,
                   "/": F.try_divide(na, nb)}[op]
            return col, _EXPR_NUM
        if kind == "call":
            return self.eval_call(e[1], e[2], df)
        if kind == "existsval":
            # marker column from _materialize_exists: unmatched left-join
            # rows carry NULL = "no compatible solution" -> false
            col = F.coalesce(F.col(e[1]), F.lit(False))
            return (~col if e[2] else col), _EXPR_BOOL
        if kind == "exists":
            # every expression entry point materializes EXISTS first; only
            # aggregated contexts (HAVING / grouped projections) still
            # reach here
            raise ValueError(
                "SPARQL: EXISTS is not supported inside aggregated "
                "HAVING/projection expressions"
            )
        if kind == "agg":
            # a static scope error (nested aggregate, or an aggregate in
            # FILTER/BIND), same class as the other §19.8 static checks
            raise SyntaxError("SPARQL: aggregate outside SELECT/HAVING")
        raise ValueError(f"SPARQL: unhandled expression {kind}")

    def eval_cmp(self, op: str, left, right, df: DataFrame) -> Column:
        return self.eval_cmp_cols(op, self.eval_expr(left, df), self.eval_expr(right, df))

    def eval_cmp_cols(self, op: str, a: tuple[Column, str], b: tuple[Column, str]) -> Column:
        (ca, ka), (cb, kb) = a, b
        if ka == _EXPR_TERM and kb == _EXPR_TERM:
            c = E.sparql_compare(ca, cb)
            z = F.lit(0)
            return {"=": c == z, "!=": c != z, "<": c < z, ">": c > z, "<=": c <= z, ">=": c >= z}[op]
        # mixed: numeric compare when both sides are numeric, else string
        na, nb = self.to_num(ca, ka), self.to_num(cb, kb)
        sa, sb = self.to_str(ca, ka), self.to_str(cb, kb)
        both_num = na.isNotNull() & nb.isNotNull()

        def apply(x, y):
            return {"=": x == y, "!=": x != y, "<": x < y, ">": x > y, "<=": x <= y, ">=": x >= y}[op]

        if ka == _EXPR_NUM or kb == _EXPR_NUM:
            # a genuine NUMBER against a side with no numeric value is a
            # type error (NULL), not a lexical compare — "a" != 1 filters
            # FALSE per §17.3 RDFterm-equal, it does not keep the row.
            # Against an IRI/bnode, RDFterm-equal still applies for =/!=
            # (different term KINDS: = false, != true); ordering errors.
            res = F.when(both_num, apply(na, nb))
            other, ko = (cb, kb) if ka == _EXPR_NUM else (ca, ka)
            if ko == _EXPR_TERM and op in ("=", "!="):
                is_node = other.startswith("<") | other.startswith("_:")
                res = res.when(is_node, F.lit(op == "!="))
            return res
        return F.when(both_num, apply(na, nb)).otherwise(apply(sa, sb))

    # -- kind coercions
    @staticmethod
    def to_num(col: Column, kind: str) -> Column:
        if kind == _EXPR_NUM:
            return col.cast("double")
        if kind == _EXPR_TERM:
            return E.try_numeric(col)
        if kind == _EXPR_BOOL:
            return col.cast("double")
        return col.try_cast("double")

    @staticmethod
    def to_str(col: Column, kind: str) -> Column:
        if kind == _EXPR_TERM:
            return nt.nt_str(col)
        return col.cast("string")

    @staticmethod
    def to_bool(col: Column, kind: str) -> Column:
        if kind == _EXPR_BOOL:
            return col
        if kind == _EXPR_TERM:
            return E.ebv(col)
        if kind == _EXPR_NUM:
            return col != 0
        return F.length(col) > 0

    # -- builtin functions
    def eval_call(self, name: str, args: list, df: DataFrame) -> tuple[Column, str]:
        fn = _builtin(name, len(args), ValueError)
        self.volatile |= name in _VOLATILE
        vals = [_Val(*self.eval_expr(a, df)) for a in args]
        coerced: list = []
        for i, v in enumerate(vals):
            how = fn.coerce[min(i, len(fn.coerce) - 1)]
            coerced.append(_coerce(how, v, coerced[0] if coerced else None))
        kind = fn.kind([v.kind for v in vals]) if callable(fn.kind) else fn.kind
        return fn.build(_Site(self, df, args), *coerced), kind

    # -- aggregates
    def agg_column(self, node, df: DataFrame) -> Column:
        _, name, distinct, args, sep = node
        if name == "count":
            if not args or args[0][0] == "star":
                return F.count(F.lit(1))
            col, k = self.eval_expr(args[0], df)
            return F.countDistinct(col) if distinct else F.count(col)
        col, k = self.eval_expr(args[0], df)
        if name in ("sum", "avg"):
            val = self.to_num(col, k)
            # §18.5.1.3/.4: op:numeric-add over the group's sequence — a
            # BOUND member with no numeric value makes the WHOLE aggregate
            # a type error (unbound), not a silently-smaller sum.  Unbound
            # members are skipped (the RDF4J-style leniency the rest of
            # the aggregate surface shares).
            bad = F.max(
                F.when(col.isNotNull() & val.isNull(), 1).otherwise(0)
            )
            if name == "sum":
                agg = F.sum_distinct(val) if distinct else F.sum(val)
                # Sum({}) = 0 (§18.5.1.5): only the empty GLOBAL group has
                # count 0 (groupBy never yields empty groups), so this
                # cannot mask an all-errors group, which keeps NULL
            elif distinct:
                agg = F.sum_distinct(val) / F.count_distinct(val)
            else:
                agg = F.avg(val)
            # Avg({}) = 0, same §18.5.1.5 empty-group special case as Sum
            return (
                F.when(F.count(F.lit(1)) == 0, F.lit(0.0))
                .when(bad == 1, F.lit(None).cast("double"))
                .otherwise(agg)
            )
        if name in ("min", "max"):
            if k == _EXPR_TERM:
                # compare by the SPARQL order key but RETURN the term, so the
                # result stays an N-Triples value usable downstream (RDF4J
                # aggregates return RDF values): struct(ordering keys, term)
                # under native MIN/MAX, then project the term back out.
                num = E.try_numeric(col)
                rank = F.when(nt.nt_is_bnode(col), 0).when(nt.nt_is_iri(col), 1).otherwise(2)
                # numerics sort before non-numerics for MIN, after for MAX
                # (mirrors order_key's nulls_last in both directions)
                nn_min = F.when(num.isNull(), 1).otherwise(0)
                nn_max = F.when(num.isNull(), 0).otherwise(1)
                if name == "min":
                    key = F.struct(
                        rank.alias("r"), nn_min.alias("nn"),
                        F.coalesce(num, F.lit(0.0)).alias("n"),
                        nt.nt_str(col).alias("s"), col.alias("t"),
                    )
                    return F.min(key).getField("t")
                key = F.struct(
                    rank.alias("r"), nn_max.alias("nn"),
                    F.coalesce(num, F.lit(0.0)).alias("n"),
                    nt.nt_str(col).alias("s"), col.alias("t"),
                )
                return F.max(key).getField("t")
            val = self.to_num(col, k) if k == _EXPR_NUM else self.to_str(col, k)
            return F.min(val) if name == "min" else F.max(val)
        if name == "group_concat":
            val = self.to_str(col, k)
            coll = F.collect_set(val) if distinct else F.collect_list(val)
            return F.array_join(F.array_sort(coll), sep)
        if name == "sample":
            # deterministic SAMPLE that keeps the value as it is: a term
            # stays a term, a number or boolean keeps its type
            return F.min(col)
        raise ValueError(f"SPARQL: unknown aggregate {name}")

    # -- SELECT planning (top level and subqueries share this)
    def plan_select(
        self, q: Query, df: DataFrame | None = None, report_unbound: set | None = None
    ) -> DataFrame:
        """Plan a SELECT Query's projection / aggregation / modifiers over
        its WHERE result.  Used both by the top-level entry and for nested
        `{ SELECT ... }` subqueries, whose projection scope hides the inner
        non-projected variables (HalyardTupleExprEvaluation.java:256-285).

        `report_unbound` (out-param) receives the PROJECTED variables that
        may carry NULL-as-UNBOUND (OPTIONAL/BIND/VALUES-UNDEF inside the
        body that survive the projection) so an outer join on them uses
        compatibility semantics."""
        inner_unbound: set = set()
        if df is None:
            df = self.eval_group(q.where, report_unbound=inner_unbound)
        if q.values_clause is not None:  # trailing VALUES joins the whole query
            df = A.values_join(df, self.eval_values(q.values_clause))
            inner_unbound.update(
                v for i, v in enumerate(q.values_clause[1])
                if any(row[i] is None for row in q.values_clause[2])
            )
        if q.select_all:
            # pattern bnodes are never projected (SPARQL §4.1.4)
            hidden = [c for c in df.columns if c.startswith("__bnode_")]
            if hidden:
                df = df.drop(*hidden)

        aggregated = bool(q.group_by) or any(
            e is not None and _contains_agg(e) for _, e in q.projections
        )
        if aggregated:
            if q.select_all:
                raise SyntaxError(
                    "SPARQL: SELECT * cannot combine with GROUP BY/aggregates"
                )
            aggs = []
            post_exprs: list[tuple[str, tuple]] = []  # computed over the grouped df
            helper_cols: list[tuple[str, tuple]] = []
            for alias, e in q.projections:
                if e is None:
                    continue
                if e[0] == "agg":
                    aggs.append(self.agg_column(e, df).alias(alias))
                else:
                    # mixed shape, e.g. (COUNT(*)*2 AS ?n): pre-compute each
                    # contained aggregate into a helper column (same rewrite
                    # as HAVING), then evaluate the outer expression over
                    # the grouped result
                    post_exprs.append((alias, _rewrite_having(e, helper_cols)))
            rewritten = [_rewrite_having(h, helper_cols) for h in q.having]
            # ORDER BY may reference bare aggregates in a grouped query —
            # rewrite them into helper columns too, order BEFORE the final
            # projection (which drops the helpers)
            order_rewritten = [
                (_rewrite_having(e, helper_cols) if _contains_agg(e) else e, asc)
                for e, asc in q.order_by
            ]
            # GROUP BY expressions: compute each (expr [AS ?v]) into its
            # column before grouping; plain vars group directly
            group_keys: list[str] = []
            for g in q.group_by:
                if isinstance(g, str):
                    group_keys.append(g)
                else:
                    galias, ge = g
                    col, _k = self.eval_expr(ge, df)
                    df = df.withColumn(galias, E.bind_safe(col))
                    group_keys.append(galias)
            # §18.2.4.1: in a grouped query every projected variable must
            # be a group key or come from an aggregate — catch it here as
            # a clean static error instead of a leaked AnalysisException
            for alias, e in q.projections:
                if e is None and alias not in group_keys:
                    raise SyntaxError(
                        f"SPARQL: ?{alias} is projected but neither grouped "
                        "nor aggregated"
                    )
            for alias, e in post_exprs:
                bad = _plain_vars(e) - set(group_keys)
                if bad:
                    raise SyntaxError(
                        f"SPARQL: ?{sorted(bad)[0]} is used outside an "
                        "aggregate in a grouped query"
                    )
            for halias, agg_node in helper_cols:
                aggs.append(self.agg_column(agg_node, df).alias(halias))
            df = A.group_agg(df, group_keys, aggs)
            for alias, e in post_exprs:
                col, _k = self.eval_expr(e, df)
                df = df.withColumn(alias, E.bind_safe(col))
            for h in rewritten:
                col, k = self.eval_expr(h, df)
                df = df.filter(E.filter_cond(self.to_bool(col, k)))
            if order_rewritten:
                keys: list[Column] = []
                for e, asc in order_rewritten:
                    col, k = self.eval_expr(e, df)
                    if k == _EXPR_TERM:
                        keys.extend(E.order_key(col, ascending=asc))
                    else:
                        keys.append(col if asc else col.desc())
                df = df.orderBy(*keys)
            keep = [a for a, _ in q.projections] or [
                k for k in group_keys if not k.startswith("__groupexpr")
            ] or group_keys
            df = df.select(*keep)

        def apply_order(d: DataFrame) -> DataFrame:
            keys: list[Column] = []
            drop: list[str] = []
            for e, asc in q.order_by:
                d, e, markers = self._materialize_exists(d, e, inner_unbound)
                drop += markers
                col, k = self.eval_expr(e, d)
                if k == _EXPR_TERM:
                    keys.extend(E.order_key(col, ascending=asc))
                else:
                    keys.append(col if asc else col.desc())
            d = d.orderBy(*keys)
            return d.drop(*drop) if drop else d

        if aggregated:
            pass  # ordering already applied pre-projection above
        else:
            base_cols = frozenset(df.columns)
            for alias, e in q.projections:
                if e is not None:
                    df, e, markers = self._materialize_exists(df, e, inner_unbound)
                    # BNODE() seeds from the SOLUTION mapping only — the
                    # pre-projection columns — so earlier SELECT aliases
                    # don't change later BNODE seeds (a nested
                    # plan_select inside _materialize_exists may clobber
                    # the attribute, hence re-set per iteration)
                    self._solution_cols = base_cols
                    try:
                        col, _k = self.eval_expr(e, df)
                    finally:
                        self._solution_cols = None
                    df = df.withColumn(alias, col)
                    if markers:
                        df = df.drop(*markers)
            if q.distinct or q.reduced:
                # projection first, then dedup; ORDER keys must be projected
                if not q.select_all:
                    df = df.select(*[a for a, _ in q.projections])
                df = A.distinct(df)
                if q.order_by:
                    df = apply_order(df)
            else:
                # order on the pre-projection df: SPARQL permits ordering by
                # non-projected variables
                if q.order_by:
                    df = apply_order(df)
                if not q.select_all:
                    df = df.select(*[a for a, _ in q.projections])

        if q.distinct or q.reduced:
            if aggregated:
                df = A.distinct(df)

        if q.offset or q.limit is not None:
            df = A.slice_rows(df, offset=q.offset, limit=q.limit)
        if report_unbound is not None:
            # a COMPUTED projection ((expr AS ?v), aggregate or not) can
            # evaluate to error => NULL-as-UNBOUND; report conservatively —
            # a compat join on a column that is never actually NULL is
            # semantically identical to the equi-join it replaces
            inner_unbound.update(a for a, e in q.projections if e is not None)
            report_unbound.update(inner_unbound & set(df.columns))
        return df


# ------------------------------------------------------------ builtins
# One _BUILTINS row per builtin and XSD constructor, the way RDF4J
# resolves every FunctionCall through one registry lookup
# (HalyardValueExprEvaluation.java:662-678).

# argument coercions (§17.4): what one argument position accepts
_RAW = "raw"          # the evaluated _Val, any kind
_STRING = "string"    # the string value of any term
_NUMERIC = "numeric"  # the numeric value, NULL when not numeric
_STRLIT = "strlit"    # §17.4.3 string literal, as a _Str
_SIMPLE = "simple"    # §17.4.2.5/6 simple literal, as its lexical form
_COMPAT = "compat"    # a _STRLIT argument-compatible with argument 1 (§17.4.1.5)


class _Val(NamedTuple):
    col: Column
    kind: str


class _Str(NamedTuple):
    lex: Column  # NULL on a type error
    lang: Column  # '' when untagged


class _Site(NamedTuple):
    """What a few builders need besides their arguments."""

    planner: _Planner
    df: DataFrame
    args: list  # the argument ASTs


class _Builtin(NamedTuple):
    lo: int  # fewest arguments
    hi: float  # most arguments (inf: variadic)
    coerce: tuple  # one coercion per position; the last one repeats
    build: Callable  # (_Site, *coerced arguments) -> Column
    kind: str | Callable  # result kind, or a rule over the argument kinds


def _builtin(name: str, nargs: int, error: type[Exception]) -> _Builtin:
    fn = _BUILTINS.get(name)
    if fn is None:
        raise error(f"SPARQL: unknown function {name!r}")
    if not fn.lo <= nargs <= fn.hi:
        raise error(f"SPARQL: {name}() takes {fn.lo}..{fn.hi} arguments, not {nargs}")
    return fn


def _bare(col: Column) -> Column:
    """A term-kind column can hold a BARE value when the variable was
    BIND-bound from a string expression (the engine stores BIND results
    in their natural form, not N-Triples form); such a value IS a simple
    string literal."""
    return ~(col.startswith("<") | col.startswith("_:") | col.startswith('"'))


def _coerce(how: str, v: _Val, first: _Str | None):
    """One argument coercion.  An argument its position does not accept
    is a TYPE ERROR (NULL), as RDF4J throws ValueExprEvaluationException:
    STRSTARTS(?age, "2") on "30"^^xsd:integer is an error -> false.
    ``first`` is argument 1, already coerced."""
    if how == _RAW:
        return v
    if how == _STRING:
        return _Planner.to_str(*v)
    if how == _NUMERIC:
        return _Planner.to_num(*v)
    if v.kind != _EXPR_TERM:
        lex, lang = _Planner.to_str(*v), F.lit("")
    else:
        ok = [nt.XSD + "string"] + ([] if how == _SIMPLE else [nt.RDF + "langString"])
        lex = F.when(nt.nt_datatype(v.col).isin(*ok), nt.nt_str(v.col)).when(
            _bare(v.col), v.col.cast("string"))
        lang = nt.nt_lang(v.col)
    if how == _SIMPLE:
        return lex
    if how == _COMPAT:  # language-less, or argument 1's tag
        lex = F.when((lang == "") | (lang == first.lang), lex)
    return _Str(lex, lang)


def _tagged(res: Column, lang: Column) -> Column:
    """§17.4.3 string functions return a literal carrying argument 1's
    language tag: tagged rows get the N-Triples langString form,
    untagged rows stay bare simple strings (the engine's natural
    representation for derived string values)."""
    return F.when(
        res.isNotNull() & (lang != ""),
        F.concat(F.lit('"'), nt.nt_escape(res), F.lit('"@'), lang),
    ).otherwise(res)


def _str(_, v: _Val) -> Column:
    # §17.4.2.5: STR accepts a literal or IRI; a blank node is a type
    # error (RDF4J Str throws ValueExprEvaluationException)
    res = _Planner.to_str(*v)
    return F.when(~nt.nt_is_bnode(v.col), res) if v.kind == _EXPR_TERM else res


def _term_test(test, true_kinds: tuple, _, v: _Val) -> Column:
    """isIRI / isBlank / isLiteral / isNumeric: ``test`` on a term.  A
    computed number, boolean or string (an aggregate or BIND column, a
    STRLEN result) is a literal: true when its kind is in ``true_kinds``."""
    if v.kind == _EXPR_TERM:
        return test(v.col)
    return F.when(v.col.isNotNull(), F.lit(v.kind in true_kinds))


def _datatype(_, v: _Val) -> Column:
    if v.kind == _EXPR_TERM:
        return F.when(_bare(v.col), F.lit(nt.XSD + "string")).otherwise(nt.nt_datatype(v.col))
    if v.kind == _EXPR_NUM:
        # a numeric result's datatype is the one its term form carries
        # (integral -> xsd:integer, else xsd:double)
        return F.when(v.col.isNotNull(), nt.nt_datatype(E.as_term(v.col, "double")))
    # a derived string IS a simple literal
    dtype = "boolean" if v.kind == _EXPR_BOOL else "string"
    return F.when(v.col.isNotNull(), F.lit(nt.XSD + dtype))


def _bnode(site: _Site, *labels: Column) -> Column:
    # seed from the argument AND the whole in-scope solution mapping:
    # same label -> same bnode WITHIN a solution, but distinct solutions
    # -> distinct bnodes (SPARQL 17.4.2.9; HalyardValueExprEvaluation.java
    # :234-246 likewise seeds the generated node from the bindings)
    seed = site.planner._solution_cols
    names = sorted(c for c in site.df.columns if seed is None or c in seed)
    return E.bnode_seeded(*labels, *[F.col(c) for c in names])


def _flagged_pattern(pat: Column, args: list, i: int) -> Column:
    """Apply the XPath regex flags of literal argument ``i``, if given.
    s/m/i/x map to Java inline flags; q wraps the pattern in \\Q..\\E
    (literal match — Java has no inline form; a pattern containing a
    literal ``\\E`` is the one documented blind spot).  An unknown flag
    letter is an evaluation error (XPath err:FORX0001): a NULL pattern,
    so the call is unbound / filter-false instead of Spark aborting the
    job on an invalid ``(?...)`` group."""
    if len(args) <= i or args[i][0] != "lit":
        return pat
    flags = args[i][1]
    if not set(flags) <= set("smixq"):
        return F.lit(None).cast("string")
    if "q" in flags:
        pat = F.concat(F.lit("\\Q"), pat, F.lit("\\E"))
        flags = flags.replace("q", "")
    if flags:
        pat = F.concat(F.lit(f"(?{flags})"), pat)
    return pat


def _substr(_, text: _Str, start: Column, length: Column | None = None) -> Column:
    # fn:substring semantics: characters at positions p with
    # round(start) <= p < round(start) + round(length), 1-based — a
    # zero/negative start clips from position 1 with the length budget
    # consumed (substring("abcde", 0, 3) = "ab"), unlike SQL SUBSTR's
    # treat-0-as-1 / count-from-the-end behaviors
    first = F.floor(start + F.lit(0.5)).cast("int")  # fn:round
    lo = F.greatest(first, F.lit(1))
    if length is None:
        return _tagged(F.substr(text.lex, lo), text.lang)
    eff = first + F.floor(length + F.lit(0.5)).cast("int") - lo  # end-exclusive minus clipped start
    res = F.when(eff > 0, F.substr(text.lex, lo, eff)).otherwise(
        F.when(text.lex.isNotNull() & eff.isNotNull(), F.lit("")))
    return _tagged(res, text.lang)


def _around(a: _Str, b: _Str, before: bool) -> Column:
    # a match carries arg1's language tag; NO match returns the empty
    # SIMPLE literal (strBefore("abc"@en,"z") = "", not ""@en) —
    # §17.4.3.4, mirrored by RDF4J StrBefore
    pos = F.position(b.lex, a.lex)
    part = F.substr(a.lex, F.lit(1), pos - 1) if before else F.substr(a.lex, pos + F.length(b.lex))
    return F.when(pos > 0, _tagged(part, a.lang)).otherwise(
        F.when(a.lex.isNotNull() & b.lex.isNotNull(), F.lit("")))


def _encode_for_uri(_, text: _Str) -> Column:
    # fn:encode-for-uri percent-encodes (RFC 3986 unreserved kept);
    # url_encode is form-encoding, so fix up its three deviations
    e = F.url_encode(text.lex)
    for form, pct in (("+", "%20"), ("*", "%2A"), ("%7E", "~")):
        e = F.replace(e, F.lit(form), F.lit(pct))
    return e


def _concat(_, *args: _Str) -> Column:
    # the result carries a language tag only when EVERY argument is a
    # literal with that same tag (§17.4.3.1.2); any plain or
    # differently-tagged argument makes the result simple
    res = F.concat(*[a.lex for a in args])
    if not args:
        return res
    tag = args[0].lang
    same = reduce(lambda c, a: c & (a.lang == tag), args[1:], tag != "")
    return _tagged(res, F.when(same, tag).otherwise(""))


def _datetime_part(group: int, _, lex: Column) -> Column:
    # §17.4.5: component accessors read the LEXICAL form — no timezone
    # normalization (HOURS("...T14:45:13-05:00") is 14, not the
    # session-zone hour a timestamp cast would give) and SECONDS keeps
    # the fractional part (xsd:decimal).  [T ]: a space separator isn't
    # valid XSD but Spark's cast accepted it historically — keep reading
    # it leniently
    pat = r"^(-?\d+)-(\d\d)-(\d\d)(?:[T ](\d\d):(\d\d):(\d\d(?:\.\d+)?))?"
    comp = F.nullif(F.regexp_extract(lex, pat, group), F.lit(""))
    return comp.try_cast("double" if group == 6 else "int")


def _timezone(_, lex: Column) -> Column:
    # §17.4.5.7 / fn:timezone-from-dateTime: the offset as an
    # xsd:dayTimeDuration literal — Z and +00:00 give "PT0S", -05:30
    # gives "-PT5H30M"; a dateTime WITHOUT a timezone is a type error
    # (NULL here, error=>unbound/false downstream)
    tzs = F.regexp_extract(lex, r"(Z|[+-]\d\d:\d\d)$", 1)
    hh = F.substring(tzs, 2, 2).cast("int")
    mm = F.substring(tzs, 5, 2).cast("int")
    body = F.when((hh == 0) & (mm == 0), F.lit("PT0S")).otherwise(F.concat(
        F.lit("PT"),
        F.when(hh > 0, F.concat(hh.cast("string"), F.lit("H"))).otherwise(F.lit("")),
        F.when(mm > 0, F.concat(mm.cast("string"), F.lit("M"))).otherwise(F.lit("")),
    ))
    sign = F.when(tzs.startswith("-") & ((hh > 0) | (mm > 0)), F.lit("-")).otherwise(F.lit(""))
    dur = F.when(tzs == "Z", F.lit("PT0S")).when(tzs != "", F.concat(sign, body))
    return F.concat(F.lit('"'), dur, F.lit('"^^<' + nt.XSD + 'dayTimeDuration>'))


def _if(_, cond: _Val, yes: _Val, no: _Val) -> Column:
    # an ERROR condition makes the whole IF an error (§17.4.1.2): two
    # one-sided whens leave NULL for the NULL condition, where
    # when/otherwise would silently take the else branch
    c = _Planner.to_bool(*cond)
    return F.when(c, yes.col).when(~c, no.col)


def _coalesce(_, *vals: _Val) -> Column:
    if not vals:
        # COALESCE() with no expressions: every (vacuous) branch errored
        # -> evaluation error (unbound), not a plan crash
        return F.lit(None).cast("string")
    # mixed-kind arguments must be harmonized to the lexical
    # representation first: F.coalesce(double, string) makes ANSI Spark
    # cast the string arm to DOUBLE (a plan-time crash on
    # COALESCE(1/0, "ok")), where SPARQL just returns the first
    # non-error value whatever its type
    if len({v.kind for v in vals}) == 1:
        return F.coalesce(*[v.col for v in vals])
    return F.coalesce(*[_Planner.to_str(*v) for v in vals])


def _xsd_boolean(_, v: _Val) -> Column:
    # §17.5 XPath constructor semantics, NOT the EBV: from a string only
    # the xsd:boolean lexical space casts ("true"/"1" -> true,
    # "false"/"0" -> false, else error); from a numeric, value != 0;
    # IRI/bnode -> type error
    if v.kind == _EXPR_BOOL:
        return v.col
    if v.kind == _EXPR_NUM:
        return v.col != 0
    if v.kind == _EXPR_STR:
        return F.when(v.col.isin("true", "1"), F.lit(True)).when(v.col.isin("false", "0"), F.lit(False))
    lab = nt.nt_str(v.col)
    ok = ~(nt.nt_is_iri(v.col) | nt.nt_is_bnode(v.col))
    return (
        F.when(ok & E.is_numeric_term(v.col), E.try_numeric(v.col) != 0)
        .when(ok & lab.isin("true", "1"), F.lit(True))
        .when(ok & lab.isin("false", "0"), F.lit(False))
    )


def _xsd_datetime(dtype: str, _, lex: Column) -> Column:
    # §17.5 constructor cast: validate the target lexical space, emit a
    # TYPED literal term — comparisons then take sparql_compare's
    # dateTime INSTANT rule
    time = dtype == "dateTime"
    pat = r"^-?\d{4,}-\d\d-\d\d" + (r"T\d\d:\d\d:\d\d(\.\d+)?" if time else "") + r"(Z|[+-]\d\d:\d\d)?$"
    # the shape regex can't check FIELD ranges (month<=12, day valid for
    # the month, hour<=23...) — "2010-13-40" must be a cast error, not a
    # typed literal.  Validate by try_cast on a normalized lexical:
    # timezone suffix stripped (XSD allows "2010-01-15Z", Spark's cast
    # does not) and the XSD-legal T24:00:00 end-of-day folded to a
    # castable instant.
    norm = F.regexp_replace(lex, r"(Z|[+-]\d\d:\d\d)$", "")
    if time:
        norm = F.regexp_replace(norm, r"T24:00:00(\.0+)?$", "T00:00:00")
    in_range = norm.try_cast("timestamp" if time else "date").isNotNull()
    return F.when(lex.rlike(pat) & in_range, F.concat(F.lit('"'), lex, F.lit(f'"^^<{nt.XSD}{dtype}>')))



_INF = float("inf")
_BUILTINS: dict[str, _Builtin] = {
    "str": _Builtin(1, 1, (_RAW,), _str, _EXPR_STR),
    "lang": _Builtin(1, 1, (_RAW,), lambda _, v: nt.nt_lang(v.col), _EXPR_STR),
    "langmatches": _Builtin(2, 2, (_STRING,), lambda _, tag, rng: E.langmatches(tag, rng), _EXPR_BOOL),
    "datatype": _Builtin(1, 1, (_RAW,), _datatype, _EXPR_STR),
    "bound": _Builtin(1, 1, (_RAW,), lambda _, v: v.col.isNotNull(), _EXPR_BOOL),
    "isiri": _Builtin(1, 1, (_RAW,), partial(_term_test, nt.nt_is_iri, ()), _EXPR_BOOL),
    "isblank": _Builtin(1, 1, (_RAW,), partial(_term_test, nt.nt_is_bnode, ()), _EXPR_BOOL),
    "isliteral": _Builtin(1, 1, (_RAW,), partial(
        _term_test, nt.nt_is_literal, (_EXPR_NUM, _EXPR_STR, _EXPR_BOOL)), _EXPR_BOOL),
    "isnumeric": _Builtin(1, 1, (_RAW,), partial(_term_test, E.is_numeric_term, (_EXPR_NUM,)), _EXPR_BOOL),
    "iri": _Builtin(1, 1, (_RAW,), lambda site, v: E.iri_resolve(
        v.col, site.planner.parser.base), _EXPR_TERM),
    "bnode": _Builtin(0, 1, (_STRING,), _bnode, _EXPR_TERM),
    "sameterm": _Builtin(2, 2, (_RAW,), lambda _, a, b: a.col == b.col, _EXPR_BOOL),
    # REGEX has FIND semantics with inline-able flags
    # (HalyardValueExprEvaluation.java:503-551)
    "regex": _Builtin(2, 3, (_STRLIT, _STRING), lambda site, t, pat, *_: F.regexp_like(
        t.lex, _flagged_pattern(pat, site.args, 2)), _EXPR_BOOL),
    "strlen": _Builtin(1, 1, (_STRLIT,), lambda _, t: F.length(t.lex), _EXPR_NUM),
    "substr": _Builtin(2, 3, (_STRLIT, _NUMERIC), _substr, _EXPR_TERM),
    "ucase": _Builtin(1, 1, (_STRLIT,), lambda _, t: _tagged(F.upper(t.lex), t.lang), _EXPR_TERM),
    "lcase": _Builtin(1, 1, (_STRLIT,), lambda _, t: _tagged(F.lower(t.lex), t.lang), _EXPR_TERM),
    "strstarts": _Builtin(2, 2, (_STRLIT, _COMPAT), lambda _, a, b: a.lex.startswith(b.lex), _EXPR_BOOL),
    "strends": _Builtin(2, 2, (_STRLIT, _COMPAT), lambda _, a, b: a.lex.endswith(b.lex), _EXPR_BOOL),
    "contains": _Builtin(2, 2, (_STRLIT, _COMPAT), lambda _, a, b: a.lex.contains(b.lex), _EXPR_BOOL),
    "strbefore": _Builtin(2, 2, (_STRLIT, _COMPAT), lambda _, a, b: _around(a, b, True), _EXPR_TERM),
    "strafter": _Builtin(2, 2, (_STRLIT, _COMPAT), lambda _, a, b: _around(a, b, False), _EXPR_TERM),
    "encode_for_uri": _Builtin(1, 1, (_STRLIT,), _encode_for_uri, _EXPR_STR),
    "concat": _Builtin(0, _INF, (_STRLIT,), _concat, _EXPR_TERM),
    # the result carries arg1's language tag (fn:replace over xs:string
    # under the §17.4.3 string-literal rules)
    "replace": _Builtin(3, 4, (_STRLIT, _STRING), lambda site, t, pat, rep, *_: _tagged(
        F.regexp_replace(t.lex, _flagged_pattern(pat, site.args, 3), rep), t.lang), _EXPR_TERM),
    "abs": _Builtin(1, 1, (_NUMERIC,), lambda _, x: F.abs(x), _EXPR_NUM),
    # fn:round: the half case rounds toward POSITIVE infinity
    # (round(-2.5) = -2), unlike half-away-from-zero F.round
    "round": _Builtin(1, 1, (_NUMERIC,), lambda _, x: F.floor(x + F.lit(0.5)).cast("double"), _EXPR_NUM),
    "ceil": _Builtin(1, 1, (_NUMERIC,), lambda _, x: F.ceil(x).cast("double"), _EXPR_NUM),
    "floor": _Builtin(1, 1, (_NUMERIC,), lambda _, x: F.floor(x).cast("double"), _EXPR_NUM),
    "rand": _Builtin(0, 0, (), lambda _: F.rand(), _EXPR_NUM),
    "now": _Builtin(0, 0, (), lambda _: F.current_timestamp().cast("string"), _EXPR_STR),
    **{name: _Builtin(1, 1, (_STRING,), partial(_datetime_part, group), _EXPR_NUM)
       for group, name in enumerate(("year", "month", "day", "hours", "minutes", "seconds"), 1)},
    "tz": _Builtin(1, 1, (_STRING,), lambda _, s: F.regexp_extract(
        s, r"(Z|[+-]\d\d:\d\d)$", 1), _EXPR_STR),
    "timezone": _Builtin(1, 1, (_STRING,), _timezone, _EXPR_TERM),
    "md5": _Builtin(1, 1, (_STRING,), lambda _, s: F.md5(s.cast("binary")), _EXPR_STR),
    "sha1": _Builtin(1, 1, (_STRING,), lambda _, s: F.sha1(s.cast("binary")), _EXPR_STR),
    **{f"sha{bits}": _Builtin(1, 1, (_STRING,), partial(
        lambda bits, _, s: F.sha2(s.cast("binary"), bits), bits), _EXPR_STR)
       for bits in (256, 384, 512)},
    "uuid": _Builtin(0, 0, (), lambda _: F.concat(
        F.lit("<urn:uuid:"), F.expr("uuid()"), F.lit(">")), _EXPR_TERM),
    "struuid": _Builtin(0, 0, (), lambda _: F.expr("uuid()"), _EXPR_STR),
    # arg1 must be a SIMPLE literal: STRLANG("x"@en, "fr") and
    # STRLANG(1, "en") are type errors (§17.4.2.6) -> NULL
    "strlang": _Builtin(2, 2, (_SIMPLE, _STRING), lambda _, lex, tag: F.concat(
        F.lit('"'), nt.nt_escape(lex), F.lit('"@'), tag), _EXPR_TERM),
    "strdt": _Builtin(2, 2, (_SIMPLE, _RAW), lambda _, lex, dt: F.concat(
        F.lit('"'), nt.nt_escape(lex), F.lit('"^^'), dt.col), _EXPR_TERM),
    "if": _Builtin(3, 3, (_RAW,), _if, lambda kinds: kinds[1]),
    "coalesce": _Builtin(0, _INF, (_RAW,), _coalesce, lambda kinds: (
        kinds[0] if len(set(kinds)) == 1 else _EXPR_TERM)),
}
_BUILTINS.update(isuri=_BUILTINS["isiri"], uri=_BUILTINS["iri"])
# builtins whose value Spark fixes per plan, not per execution: the seed
# of rand() and uuid() at analysis, current_timestamp() at optimization.
# A re-executed plan would repeat them.  BNODE seeds from the solution
# (_bnode), so it is not here.
_VOLATILE = frozenset({"rand", "now", "uuid", "struuid"})
# XSD constructor casts such as xsd:double(?x), under any prefix bound to
# the XSD namespace or an undeclared xsd: (names arrive lower-cased)
_XSD_CASTS = {
    **dict.fromkeys(("double", "float", "decimal"),
                    _Builtin(1, 1, (_NUMERIC,), lambda _, x: x, _EXPR_NUM)),
    **dict.fromkeys(("integer", "int", "long"),
                    _Builtin(1, 1, (_NUMERIC,), lambda _, x: x.cast("long"), _EXPR_NUM)),
    "string": _Builtin(1, 1, (_STRING,), lambda _, s: s, _EXPR_STR),
    "boolean": _Builtin(1, 1, (_RAW,), _xsd_boolean, _EXPR_BOOL),
    "datetime": _Builtin(1, 1, (_STRING,), partial(_xsd_datetime, "dateTime"), _EXPR_TERM),
    "date": _Builtin(1, 1, (_STRING,), partial(_xsd_datetime, "date"), _EXPR_TERM),
}
_BUILTINS.update({pre + local: fn for local, fn in _XSD_CASTS.items() for pre in (nt.XSD, "xsd:")})


def _vars_outside_aggs(e) -> set:
    """Variables referenced in an expression tree OUTSIDE any aggregate
    call (and outside EXISTS sub-patterns, which have their own scope) —
    §18.2.4.1: in a grouped query these must all be group keys."""
    if isinstance(e, list):
        return set().union(*[_vars_outside_aggs(x) for x in e]) if e else set()
    if not isinstance(e, tuple):
        return set()
    if e[0] == "var":
        return {e[1]}
    if e[0] in ("agg", "exists", "notexists"):
        return set()
    return set().union(
        set(), *[_vars_outside_aggs(x) for x in e[1:] if isinstance(x, (tuple, list))]
    )


def _term_vars(t) -> set:
    return {t[1]} if isinstance(t, tuple) and t[0] == "var" else set()


def _inscope_vars(elems) -> set:
    """In-scope variables of a parsed GroupGraphPattern element list
    (§18.2.1 table): triple/path terms, nested groups, OPTIONAL, GRAPH
    (+ its name var), SERVICE, BIND targets, VALUES vars, both UNION
    branches, and a subquery's projected variables.  FILTER and MINUS
    contribute nothing (their variables are not visible outside)."""
    out: set = set()
    for el in elems or []:
        kind = el[0]
        if kind == "triple":
            out |= _term_vars(el[1]) | _term_vars(el[2]) | _term_vars(el[3])
        elif kind in ("group", "optional"):
            out |= _inscope_vars(el[1])
        elif kind == "graph":
            out |= _term_vars(el[1]) | _inscope_vars(el[2])
        elif kind == "service":
            out |= _inscope_vars(el[2])
        elif kind == "bind":
            out.add(el[2])
        elif kind == "values":
            out.update(el[1])
        elif kind == "union":
            out |= _inscope_vars([el[1]]) | _inscope_vars([el[2]])
        elif kind == "subquery":
            q = el[1]
            if q.select_all:
                out |= _inscope_vars(q.where)
            else:
                out.update(v for v, _e in q.projections)
    return out


def _plain_vars(e) -> set:
    """Variables referenced directly in an expression tree (after the
    HAVING rewrite replaced aggregates with havingref nodes), i.e. the
    ones that must be group keys for the expression to be legal."""
    if isinstance(e, list):
        return set().union(*[_plain_vars(x) for x in e]) if e else set()
    if not isinstance(e, tuple):
        return set()
    if e[0] == "var":
        return {e[1]}
    if e[0] == "havingref":
        return set()
    return set().union(*[_plain_vars(x) for x in e[1:]], set())


def _contains_agg(e) -> bool:
    if isinstance(e, list):
        return any(_contains_agg(x) for x in e)
    if not isinstance(e, tuple):
        return False
    if e[0] == "agg":
        return True
    return any(_contains_agg(x) for x in e[1:] if isinstance(x, (tuple, list)))


def _having_kind(agg_node) -> str:
    """Expression kind of a pre-computed HAVING aggregate column."""
    name = agg_node[1]
    if name in ("count", "sum", "avg"):
        return _EXPR_NUM
    if name == "group_concat":
        return _EXPR_STR
    args = agg_node[3]
    if args and isinstance(args[0], tuple) and args[0][0] == "var":
        return _EXPR_TERM  # min/max/sample over a term column stays a term
    return _EXPR_STR


def _rewrite_having(e, collect: list):
    """Replace every aggregate node in a HAVING expression with a
    ('havingref', alias, kind) over a uniquely-named pre-computed column,
    so arbitrary boolean shapes — aggregate on either side, AND/OR chains,
    multiple HAVING clauses — all plan (each aggregate lands in its own
    __havingN column; no alias collisions)."""
    if isinstance(e, tuple):
        if e[0] == "agg":
            alias = f"__having{len(collect)}"
            collect.append((alias, e))
            return ("havingref", alias, _having_kind(e))
        return tuple(
            _rewrite_having(x, collect) if isinstance(x, (tuple, list)) else x
            for x in e
        )
    if isinstance(e, list):
        return [
            _rewrite_having(x, collect) if isinstance(x, (tuple, list)) else x
            for x in e
        ]
    return e


def sparql_query(
    triples: DataFrame,
    query: str,
    base: str | None = None,
    services: dict[str, DataFrame] | None = None,
    dataset: tuple[list | None, list | None] | None = None,
) -> DataFrame:
    """Parse + plan a SPARQL query over a triples DataFrame (subj, pred,
    obj [, ctx] in N-Triples lexical form).  SELECT returns variable-named
    columns; CONSTRUCT/DESCRIBE return (subj, pred, obj) rows; ASK returns
    one boolean `ask` row — the four query forms of the reference's export
    path (tools/.../HalyardExport.java:473-539).  ``services`` maps SERVICE
    endpoint IRIs to second-store DataFrames (federation registry,
    HBaseSail.java:196-222).  ``dataset`` = (default_ctxs, named_ctxs)
    lists of N-Triples ctx lexicals; when given it OVERRIDES the query's
    own FROM / FROM NAMED (the SPARQL protocol rule for
    default-graph-uri / named-graph-uri parameters)."""
    return plan_query(triples, query, base, services, dataset)[0]


def plan_query(
    triples: DataFrame,
    query: str,
    base: str | None = None,
    services: dict[str, DataFrame] | None = None,
    dataset: tuple[list | None, list | None] | None = None,
) -> tuple[DataFrame, bool]:
    """``sparql_query``, plus whether the plan evaluates a builtin whose
    value Spark fixes per plan (``_VOLATILE``): such a plan answers
    correctly once, and must be planned again to be run again."""
    parser = _Parser(tokenize(query), base=base)
    q = parser.parse()
    planner = _Planner(triples, parser, services=services)
    planner.dataset = dataset if dataset is not None else (q.from_graphs, q.from_named)

    if q.form == "ask":
        df = planner.eval_group(q.where)
        ask = df.limit(1).select(F.lit(1).alias("one")).agg((F.count("one") > 0).alias("ask"))
        return ask, planner.volatile

    if q.form == "describe":
        spark = triples.sparkSession
        const_nodes = [_Parser.term_lexical(t) for t in q.describe_terms if t[0] != "var"]
        nodes = (
            local_frame(spark, [(n,) for n in const_nodes], "node string")
            if const_nodes
            else None
        )
        if q.where:
            bound = planner.eval_group(q.where)
            for t in q.describe_terms:
                if t[0] == "var":
                    sub = bound.select(F.col(t[1]).alias("node")).distinct()
                    nodes = sub if nodes is None else nodes.union(sub).distinct()
        if nodes is None:
            raise ValueError("SPARQL: DESCRIBE needs at least one term")
        scoped = planner._scoped()  # honor FROM / FROM NAMED
        own = scoped.join(F.broadcast(nodes), scoped["subj"] == nodes["node"], "left_semi")
        # one-hop closure over the described resources' IRI objects
        # (join-pattern DescribeOperator form, HTEE:371-373)
        hops = own.select(F.col("obj").alias("node")).where(F.col("node").startswith("<")).distinct()
        hop = scoped.join(F.broadcast(hops), scoped["subj"] == hops["node"], "left_semi")
        return own.select("subj", "pred", "obj").unionByName(
            hop.select("subj", "pred", "obj")
        ).dropDuplicates(), planner.volatile

    df = planner.eval_group(q.where)

    if q.form == "construct":
        # §16.2: solution modifiers (ORDER BY / LIMIT / OFFSET) apply to
        # the SOLUTION SEQUENCE, and the template then instantiates once
        # per selected solution — slicing the instantiated-and-deduped
        # triples instead yields a different graph (code-review
        # regression: LIMIT 2 must mean "2 solutions", not "2 triples")
        if q.offset or q.limit is not None:
            if q.order_by:
                keys: list[Column] = []
                for e, asc in q.order_by:
                    col, k = planner.eval_expr(e, df)
                    if k == _EXPR_TERM:
                        keys.extend(E.order_key(col, ascending=asc))
                    else:
                        keys.append(col if asc else col.desc())
                df = df.orderBy(*keys)
            df = A.slice_rows(df, offset=q.offset, limit=q.limit)
        # the constructed graph is a set
        return _instantiate(
            df, [(s, p, o) for _, s, p, o in q.template], "_:c"
        ).dropDuplicates(), planner.volatile

    return planner.plan_select(q, df=df), planner.volatile


# SELECT was the original public name; all four forms run through
# sparql_query, and the alias keeps existing callers working.
sparql_select = sparql_query


# ------------------------------------------------------------- updates

def _parse_update_ops(parser: _Parser) -> list:
    """UPDATE grammar subset: INSERT DATA / DELETE DATA / DELETE WHERE /
    [WITH <g>] [DELETE {t}] [INSERT {t}] WHERE {g}, ';'-separated into
    STAGES — matching the reference's one-MR-job-per-UpdateExpr staging
    (tools/.../HalyardBulkUpdate.java:252-288).  Templates and DATA blocks
    may wrap triples in GRAPH <g> { ... }; WITH <g> targets both templates
    and the WHERE pattern (no USING clause given)."""
    def prologue():
        while True:
            if parser.accept("KW", "prefix"):
                pname = parser.expect("PNAME").value
                iri = parser.expect("IRI").value
                parser.prefixes[pname.rstrip(":")] = parser._resolve(iri[1:-1])
            elif parser.accept("KW", "base"):
                parser.base = parser._resolve(parser.expect("IRI").value[1:-1])
            else:
                break

    ops = []
    while True:
        # grammar: Update ::= Prologue ( Update1 ( ';' Update )? )? — every
        # ';'-separated operation may carry its OWN Prologue, accumulating
        # into (and overriding) the prefixes/base seen so far
        prologue()
        if parser.peek().kind == "EOF":
            break
        with_ctx = None
        if parser.accept("KW", "with"):
            g = parser.parse_term()
            if g[0] != "iri":
                raise SyntaxError("SPARQL UPDATE: WITH needs an IRI")
            with_ctx = g
        head = parser.next()
        if head.kind == "KW" and head.value == "load":
            # LOAD [SILENT] <doc> [INTO GRAPH <g>] — the document IRI is a
            # file/directory path for Spark's text source (.nt/.nq, plain
            # or compressed); the reference streams it through a Rio
            # parser (ParserPump, HalyardBulkLoad.java:321-482)
            silent = bool(parser.accept("KW", "silent"))
            doc = parser.parse_term()
            if doc[0] != "iri":
                raise SyntaxError("SPARQL UPDATE: LOAD needs a document IRI")
            into = None
            if parser.accept("KW", "into"):
                parser.expect("KW", "graph")
                into = parser.term_lexical(parser.parse_term())
            ops.append(("load", doc[1], into, silent))
            parser.accept("OP", ";")
            continue
        if head.kind == "KW" and head.value in ("clear", "drop", "create", "copy", "move", "add"):
            # graph management (SPARQL 1.1 Update §3.2; RDF4J executes these
            # through the same UpdateExpr staging the reference runs)
            if with_ctx is not None:
                raise SyntaxError("SPARQL UPDATE: WITH does not combine with graph management")
            parser.accept("KW", "silent")  # we never raise for missing graphs
            if head.value in ("clear", "drop"):
                if parser.accept("KW", "default"):
                    ops.append(("clear", ("default",)))
                elif parser.accept("KW", "named"):
                    ops.append(("clear", ("named",)))
                elif parser.accept("KW", "all"):
                    ops.append(("clear", ("all",)))
                else:
                    parser.expect("KW", "graph")
                    g = parser.parse_term()
                    ops.append(("clear", ("graph", parser.term_lexical(g))))
            elif head.value == "create":
                parser.expect("KW", "graph")
                parser.parse_term()
                ops.append(("noop",))  # graphs exist implicitly in the store
            else:  # COPY / MOVE / ADD src TO dst
                def graph_or_default():
                    if parser.accept("KW", "default"):
                        return None
                    parser.accept("KW", "graph")
                    return parser.term_lexical(parser.parse_term())

                src = graph_or_default()
                parser.expect("KW", "to")
                dst = graph_or_default()
                ops.append(("graphop", head.value, src, dst))
            parser.accept("OP", ";")
            continue
        if head.kind != "KW" or head.value not in ("insert", "delete"):
            raise SyntaxError(f"SPARQL UPDATE: expected INSERT/DELETE, got {head.value!r}")
        if parser.accept("KW", "data"):
            if with_ctx is not None:
                raise SyntaxError("SPARQL UPDATE: WITH does not combine with DATA forms")
            quads = _template_quads(parser.parse_group())
            # grammar: QuadData admits no variables (official
            # syntax-update-bad negative shapes for both DATA forms)
            for q4 in quads:
                for t in q4[:3] + ((q4[3],) if q4[3] is not None else ()):
                    if isinstance(t, tuple) and t[0] == "var":
                        raise SyntaxError(
                            f"SPARQL UPDATE: variable ?{t[1]} is not allowed in "
                            f"{head.value.upper()} DATA"
                        )
            if head.value == "delete":
                _reject_delete_bnodes(quads, "DELETE DATA")
            ops.append(("insert_data" if head.value == "insert" else "delete_data", quads))
        elif head.value == "delete" and parser.peek().kind == "KW" and parser.peek().value == "where":
            parser.next()
            elems = parser.parse_group()
            quads = _template_quads(elems, default_ctx=with_ctx)
            _reject_delete_bnodes(quads, "DELETE WHERE")
            where = [("graph", with_ctx, elems)] if with_ctx else elems
            ops.append(("modify", quads, None, where, None))
        else:
            delete_q = insert_q = None
            if head.value == "delete":
                delete_q = _template_quads(parser.parse_group(), default_ctx=with_ctx)
                _reject_delete_bnodes(delete_q, "a DELETE template")
                if parser.accept("KW", "insert"):
                    insert_q = _template_quads(parser.parse_group(), default_ctx=with_ctx)
            else:
                insert_q = _template_quads(parser.parse_group(), default_ctx=with_ctx)
            # USING / USING NAMED: the WHERE pattern's dataset (the UPDATE
            # analog of FROM; overrides WITH for the pattern, SPARQL 1.1
            # Update §3.1.3)
            using_defaults = using_named = None
            while parser.accept("KW", "using"):
                named = bool(parser.accept("KW", "named"))
                g = parser.parse_term()
                if g[0] != "iri":
                    raise SyntaxError("SPARQL UPDATE: USING needs an IRI")
                if named:
                    using_named = (using_named or []) + [parser.term_lexical(g)]
                else:
                    using_defaults = (using_defaults or []) + [parser.term_lexical(g)]
            parser.expect("KW", "where")
            elems = parser.parse_group()
            has_using = using_defaults is not None or using_named is not None
            where = [("graph", with_ctx, elems)] if (with_ctx and not has_using) else elems
            dataset = (using_defaults, using_named) if has_using else None
            ops.append(("modify", delete_q, insert_q, where, dataset))
        parser.accept("OP", ";")
    return ops


def _template_quads(elems: list, default_ctx=None) -> list:
    """Template group -> (s, p, o, ctx) quads; GRAPH blocks set ctx
    (context derivation mirrors HalyardBulkLoad.java:411-424)."""
    quads = []
    for el in elems:
        if el[0] == "triple":
            # grammar: a quad template's Verb is VarOrIri — a property
            # path (`<p>/<q>`, `<p>+`, ...) parses in a WHERE group but
            # must not reach an update template as a predicate
            if isinstance(el[2], tuple) and el[2][0] == "pathexpr":
                raise SyntaxError(
                    "SPARQL UPDATE: property paths are not allowed as the "
                    "predicate of a template quad"
                )
            quads.append((el[1], el[2], el[3], default_ctx))
        elif el[0] == "graph":
            quads.extend(_template_quads(el[2], default_ctx=el[1]))
        else:
            raise SyntaxError(
                "SPARQL UPDATE: templates must contain only triples or GRAPH blocks"
            )
    return quads


def _var_as_term(df: DataFrame, name: str) -> Column:
    """Bound-variable column -> N-Triples term column for template
    instantiation (exprs.as_term).  A raw native column unioned with the
    string snapshot would make ANSI Spark cast every stored term to
    double and abort the job."""
    if name not in df.columns:
        # a template variable with no binding anywhere in the WHERE
        # result: always unbound -> the template row is dropped
        return F.lit(None).cast("string")
    return E.as_term(F.col(name), df.schema[name].dataType.simpleString())


_QUAD = ("subj", "pred", "obj", "ctx")


def _instantiate(solutions: DataFrame, templates: list, bnode: str) -> DataFrame:
    """Template triples / quads x solution bag -> candidate rows, in ONE
    pass over the solutions (multi_projection's explode).  Bag
    semantics: CONSTRUCT dedups the result, UPDATE's bulk_update
    already does.

    Instantiation rules shared by CONSTRUCT (§16.2) and UPDATE (§3.1.3):
    a template blank node mints a FRESH bnode per solution — ``bnode``
    ("_:c" / "_:u") plus the sha1 of the label and the solution's
    bindings, so the same solution always mints the same label (stable
    across partitionings) and distinct solutions mint distinct ones; a
    solution that leaves any template variable unbound produces no row
    for that template; ill-formed rows (literal subject, non-IRI
    predicate or graph name) are skipped."""

    def col_of(term) -> Column:
        if term is None:
            return F.lit(None).cast("string")
        if term[0] == "var":
            if term[1].startswith("__bnode_") and term[1] not in solutions.columns:
                basis = F.concat_ws(
                    "\x1f", F.lit(term[1]),
                    *[F.coalesce(F.col(c).cast("string"), F.lit(""))
                      for c in sorted(solutions.columns)],
                )
                return F.concat(F.lit(bnode), F.sha1(basis))
            return _var_as_term(solutions, term[1])
        return F.lit(_Parser.term_lexical(term))

    cols = _QUAD[: len(templates[0])]
    out = A.multi_projection(
        solutions, [{c: col_of(t) for c, t in zip(cols, tpl)} for tpl in templates]
    )
    ok = (
        F.col("subj").isNotNull()
        & F.col("pred").isNotNull()
        & F.col("obj").isNotNull()
        & ~F.col("subj").startswith('"')
        & F.col("pred").startswith("<")
    )
    if "ctx" in cols:
        ok = ok & (F.col("ctx").isNull() | F.col("ctx").startswith("<"))
    return out.where(ok)


def _reject_delete_bnodes(quads: list, where_what: str) -> None:
    """UPDATE §3.1.3.1: blank nodes are PROHIBITED in DELETE templates
    (official suite syntax-update-bad cases) — a bnode can never match a
    specific stored statement, so RDF4J's parser rejects it outright."""
    for s, p, o, ctx in quads:
        for t in (s, p, o, ctx):
            if t is not None and t[0] == "var" and t[1].startswith("__bnode_"):
                raise SyntaxError(
                    f"SPARQL UPDATE: blank nodes are not allowed in {where_what}"
                )


def sparql_update(triples: DataFrame, update: str, base: str | None = None) -> DataFrame:
    """Apply a SPARQL UPDATE string to a quad DataFrame and return the
    post-update snapshot.  Each ';'-separated operation is one STAGE with
    snapshot isolation (pipeline/update.bulk_update — every effect inside
    a stage is computed against the pre-stage snapshot, the reference's
    per-stage MR semantics).  GRAPH blocks in templates/DATA and WITH <g>
    target named graphs; a template triple without a graph lands in the
    default graph (ctx NULL) on insert, and on delete matches the
    statement in ANY graph (the store resolves the actual quads — the
    union-graph read the reference performs with no dataset bound)."""
    from halyard_spark.pipeline.update import bulk_update

    parser = _Parser(tokenize(update), base=base)
    ops = _parse_update_ops(parser)
    spark = triples.sparkSession

    def ground_df(quads: list) -> DataFrame:
        rows = []
        for s, p, o, ctx in quads:
            if "var" in (s[0], p[0], o[0]) or (ctx is not None and ctx[0] == "var"):
                raise SyntaxError("SPARQL UPDATE: DATA blocks must be ground (no variables)")
            rows.append((
                _Parser.term_lexical(s), _Parser.term_lexical(p), _Parser.term_lexical(o),
                _Parser.term_lexical(ctx) if ctx is not None else None,
            ))
        return local_frame(spark, rows, "subj string, pred string, obj string, ctx string")

    def _ctx_cond(spec):
        if spec[0] == "default":
            return F.col("ctx").isNull()
        if spec[0] == "named":
            return F.col("ctx").isNotNull()
        if spec[0] == "all":
            return F.lit(True)
        return F.col("ctx") == spec[1]

    stages = []
    for op in ops:
        def make_stage(op=op):
            def stage(snapshot: DataFrame):
                if op[0] == "noop":
                    return None, None
                if op[0] == "load":
                    from halyard_spark.sources.rio import read_rdf

                    _, doc, into, silent = op
                    path = doc[len("file://"):] if doc.startswith("file://") else doc
                    try:
                        ins = read_rdf(spark, path)
                        if into is not None:
                            ins = ins.withColumn("ctx", F.lit(into))
                        return None, ins
                    except Exception:
                        if silent:
                            return None, None
                        raise
                if op[0] == "clear":  # CLEAR / DROP: remove the graph's statements
                    return snapshot.where(_ctx_cond(op[1])), None
                if op[0] == "graphop":  # COPY / MOVE / ADD src TO dst
                    _, kind, src, dst = op
                    src_cond = F.col("ctx").isNull() if src is None else F.col("ctx") == src
                    dst_cond = F.col("ctx").isNull() if dst is None else F.col("ctx") == dst
                    ins = snapshot.where(src_cond).withColumn(
                        "ctx", F.lit(dst).cast("string")
                    )
                    dels = None
                    if kind == "copy":  # dst is replaced wholesale
                        dels = snapshot.where(dst_cond)
                    elif kind == "move":
                        dels = snapshot.where(dst_cond | src_cond)
                    return dels, ins
                if op[0] == "insert_data":
                    return None, ground_df(op[1])
                if op[0] == "delete_data":
                    return ground_df(op[1]), None
                _, delete_q, insert_q, where, dataset = op
                planner = _Planner(snapshot, parser)
                if dataset is not None:
                    planner.dataset = dataset
                bound = planner.eval_group(where)
                dels = None
                if delete_q:
                    anygraph = [q for q in delete_q if q[3] is None]
                    ingraph = [q for q in delete_q if q[3] is not None]
                    parts = []
                    if anygraph:
                        tpl = _instantiate(bound, anygraph, "_:u").select("subj", "pred", "obj").distinct()
                        parts.append(snapshot.join(tpl, ["subj", "pred", "obj"], "left_semi"))
                    if ingraph:
                        tpl = _instantiate(bound, ingraph, "_:u").select("subj", "pred", "obj", "ctx").distinct()
                        parts.append(snapshot.join(tpl, ["subj", "pred", "obj", "ctx"], "left_semi"))
                    dels = parts[0]
                    for p_ in parts[1:]:
                        dels = dels.unionByName(p_)
                ins = _instantiate(bound, insert_q, "_:u") if insert_q else None
                return dels, ins

            return stage

        stages.append(make_stage())
    return bulk_update(triples, stages)
