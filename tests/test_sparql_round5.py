"""Round-5 SPARQL front-end fixes: NULL-as-UNBOUND tracking across
UNION / subquery / SERVICE boundaries (ADVICE r4).

SPARQL join compatibility (§8, Perez et al.): a solution where ?x is
UNBOUND is compatible with any binding of ?x — a later join must use
compatibility semantics, not the null-rejecting equi-join.  The
reference evaluates these through HalyardTupleExprEvaluation's binding-
set joins, which treat missing bindings as wildcards.
"""

from __future__ import annotations

import re

import pytest

from halyard_spark import nt
from halyard_spark.query.sparql import sparql_query

EX = "http://example.org/"
PREFIXES = f"PREFIX ex: <{EX}>\n"


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def iri(x):
    return nt.iri(EX + x)


@pytest.fixture(scope="module")
def store(spark):
    data = [
        # branch-1 matter
        (iri("a1"), iri("p1"), iri("x1"), None),
        # branch-2 matter (binds ?y, leaves ?x unbound in the union)
        (iri("a2"), iri("p2"), iri("y1"), None),
        # join targets for ?x
        (iri("x1"), iri("p3"), iri("z1"), None),
        (iri("x9"), iri("p3"), iri("z9"), None),
        # subquery matter
        (iri("s1"), iri("p1"), iri("o1"), None),
        (iri("s1"), iri("p2"), iri("x1"), None),
        (iri("s2"), iri("p1"), iri("o2"), None),
    ]
    return spark.createDataFrame(data, "subj string, pred string, obj string, ctx string")


def test_union_branch_missing_var_joins_as_wildcard(store):
    out = sparql_query(store, PREFIXES + """
        SELECT ?s ?x ?z WHERE {
          { ?s ex:p1 ?x . FILTER(?s = ex:a1) } UNION { ?s ex:p2 ?y }
          ?x ex:p3 ?z .
        }""")
    got = rows(out)
    # branch 1: ?x bound -> plain equi-join
    assert (iri("a1"), iri("x1"), iri("z1")) in got
    # branch 2 (matches a2 AND s1, which also has ex:p2): ?x UNBOUND ->
    # compatible with EVERY ?x ex:p3 ?z solution
    for s in ("a2", "s1"):
        assert (iri(s), iri("x1"), iri("z1")) in got
        assert (iri(s), iri("x9"), iri("z9")) in got
    assert len(got) == 5


def test_subquery_optional_var_joins_as_wildcard(store):
    out = sparql_query(store, PREFIXES + """
        SELECT ?s ?x ?z WHERE {
          { SELECT ?s ?x WHERE { ?s ex:p1 ?o OPTIONAL { ?s ex:p2 ?x } } }
          ?x ex:p3 ?z .
        }""")
    got = rows(out)
    assert (iri("s1"), iri("x1"), iri("z1")) in got
    # s2's ?x is unbound from the subquery -> wildcard join
    assert (iri("s2"), iri("x1"), iri("z1")) in got
    assert (iri("s2"), iri("x9"), iri("z9")) in got
    # a1 has ex:p1 too: its subquery row has no OPTIONAL match
    assert (iri("a1"), iri("x1"), iri("z1")) in got
    assert (iri("a1"), iri("x9"), iri("z9")) in got
    assert len(got) == 5


def test_subquery_values_undef_projected_is_wildcard(store):
    out = sparql_query(store, PREFIXES + """
        SELECT ?s ?x ?z WHERE {
          { SELECT ?s ?x WHERE { ?s ex:p1 ?o VALUES ?x { UNDEF } } }
          ?x ex:p3 ?z .
        }""")
    got = rows(out)
    # every p1 subject crosses with both p3 solutions (x UNDEF everywhere)
    subs = {s for s, _, _ in got}
    assert subs == {iri("a1"), iri("s1"), iri("s2")}
    assert len(got) == 6


def test_service_optional_var_joins_as_wildcard(spark, store):
    remote = spark.createDataFrame(
        [
            (iri("a1"), iri("p1"), iri("o9"), None),
            (iri("a1"), iri("p2"), iri("x1"), None),
            (iri("a2"), iri("p1"), iri("o8"), None),
        ],
        "subj string, pred string, obj string, ctx string",
    )
    out = sparql_query(store, PREFIXES + """
        SELECT ?s ?x ?z WHERE {
          SERVICE <urn:store:remote> { ?s ex:p1 ?o OPTIONAL { ?s ex:p2 ?x } }
          ?x ex:p3 ?z .
        }""", services={"urn:store:remote": remote})
    got = rows(out)
    assert (iri("a1"), iri("x1"), iri("z1")) in got
    assert (iri("a2"), iri("x1"), iri("z1")) in got
    assert (iri("a2"), iri("x9"), iri("z9")) in got
    assert len(got) == 3


def test_union_both_branches_bind_var_stays_equijoin(store):
    # regression guard: when BOTH branches bind ?x, no wildcard behavior
    out = sparql_query(store, PREFIXES + """
        SELECT ?s ?x ?z WHERE {
          { ?s ex:p1 ?x } UNION { ?s ex:p2 ?x }
          ?x ex:p3 ?z .
        }""")
    got = rows(out)
    assert got == sorted([
        (iri("a1"), iri("x1"), iri("z1")),
        (iri("s1"), iri("x1"), iri("z1")),
    ])


def test_construct_template_bnode_fresh_per_solution(store):
    # §16.2.1: a blank node in the CONSTRUCT template mints a FRESH bnode
    # for every solution — distinct solutions get distinct labels, and
    # both template rows of one solution share the same label
    out = sparql_query(store, PREFIXES + """
        CONSTRUCT { _:who ex:saw ?s . _:who ex:via ?p }
        WHERE { ?s ?p ?o . FILTER(?p IN (ex:p1, ex:p2)) }""")
    got = [tuple(r) for r in out.collect()]
    subjects = {s for s, _, _ in got}
    assert all(s.startswith("_:") for s in subjects)
    # one fresh bnode per solution, shared across that solution's rows
    by_subj = {}
    for s, p, o in got:
        by_subj.setdefault(s, set()).add(p)
    assert all(preds == {iri("saw"), iri("via")} for preds in by_subj.values())
    assert len(subjects) == len(got) // 2


def test_construct_repeatable_bnode_labels(store):
    # the minted labels are content-derived: re-running the same query
    # over the same store yields the identical triple set (stable across
    # partitionings — required for the driver's hash comparison)
    q = PREFIXES + "CONSTRUCT { _:b ex:of ?s } WHERE { ?s ex:p1 ?o }"
    a = sorted(tuple(r) for r in sparql_query(store, q).collect())
    b = sorted(tuple(r) for r in sparql_query(store, q).collect())
    assert a == b and len(a) > 0
    assert all(re.fullmatch("_:c[0-9a-f]{40}", s) for s, _, _ in a)


# -- mixed-kind joins: computed (native-typed) vars meeting pattern
# (term-string) vars must compare term-to-term, not crash on the ANSI
# cast or silently drop rows (HalyardTupleExprEvaluation binding-set
# joins use Value.equals — strict label+datatype equality)

XI = '^^<http://www.w3.org/2001/XMLSchema#integer>'


@pytest.fixture(scope="module")
def numstore(spark):
    data = [
        ("<urn:a>", "<urn:p>", f'"1"{XI}', None),
        ("<urn:b>", "<urn:p>", '"x"', None),       # cast errors -> unbound
        ("<urn:a>", "<urn:q>", f'"1"{XI}', None),
        ("<urn:b>", "<urn:q>", f'"9"{XI}', None),
        ("<urn:c>", "<urn:q>", f'"01"{XI}', None),  # non-canonical label
    ]
    return spark.createDataFrame(
        data, "subj string, pred string, obj string, ctx string"
    )


def test_numeric_bind_joins_pattern_var(numstore):
    # a's computed 1 term-matches "1"^^xsd:integer only (NOT "01"); b's
    # errored ?v is unbound and compatibility-matches every ?v binding
    got = rows(sparql_query(numstore, """SELECT ?s ?s2 WHERE {
        ?s <urn:p> ?o . BIND(xsd:integer(?o) AS ?v) ?s2 <urn:q> ?v . }"""))
    assert got == [("<urn:a>", "<urn:a>"), ("<urn:b>", "<urn:a>"),
                   ("<urn:b>", "<urn:b>"), ("<urn:b>", "<urn:c>")]


def test_numeric_subquery_projection_joins_pattern_var(numstore):
    # the same shape through a subquery projection (expr AS ?v): the
    # error row must survive as unbound (projection exprs are reported
    # maybe-unbound), and the join must be term-aware
    got = rows(sparql_query(numstore, """SELECT ?s ?s2 WHERE {
        { SELECT ?s (xsd:integer(?o) AS ?v) WHERE { ?s <urn:p> ?o } }
        ?s2 <urn:q> ?v . }"""))
    assert got == [("<urn:a>", "<urn:a>"), ("<urn:b>", "<urn:a>"),
                   ("<urn:b>", "<urn:b>"), ("<urn:b>", "<urn:c>")]


def test_numeric_bind_optional_and_minus(numstore):
    got = rows(sparql_query(numstore, """SELECT ?s ?s2 WHERE {
        ?s <urn:p> ?o . BIND(xsd:integer(?o) AS ?v)
        OPTIONAL { ?s2 <urn:q> ?v } }"""))
    assert got == [("<urn:a>", "<urn:a>"), ("<urn:b>", "<urn:a>"),
                   ("<urn:b>", "<urn:b>"), ("<urn:b>", "<urn:c>")]
    got = rows(sparql_query(numstore, """SELECT ?s WHERE {
        ?s <urn:p> ?o . BIND(xsd:integer(?o) AS ?v)
        MINUS { ?x <urn:q> ?v } }"""))
    # a removed (?v=1 compatible); b kept: unbound ?v -> disjoint domain
    assert got == [("<urn:b>",)]


def test_numeric_bind_values_join(numstore):
    got = rows(sparql_query(numstore, """SELECT ?s WHERE {
        ?s <urn:p> ?o . BIND(xsd:integer(?o) AS ?v) VALUES ?v { 1 } }"""))
    assert got == [("<urn:a>",), ("<urn:b>",)]


def test_arithmetic_bind_joins_integer_term(numstore):
    # the numeric tower is double: BIND(?n + 1) computes 2.0, which must
    # render as "2"^^xsd:integer for the join (same integral-double
    # policy as CONSTRUCT's _var_as_term) and match a's <urn:q> "1"+1
    got = rows(sparql_query(numstore, """SELECT ?s2 WHERE {
        <urn:a> <urn:p> ?o . BIND(xsd:integer(?o) + 0 AS ?v)
        ?s2 <urn:q> ?v . }"""))
    assert got == [("<urn:a>",)]


# --- parse-time static scope errors (round-5 session-2 additions) ------------
# §18.2.4.1/§18.2.4.2 + grammar note 12: these are SYNTAX errors, raised
# at parse (official syntax-SELECTscope* / group06-style negatives), so
# no store is needed.


def _parses(q: str) -> bool:
    from halyard_spark.query.sparql import _Parser, tokenize

    try:
        _Parser(tokenize(q)).parse()
        return True
    except SyntaxError:
        return False


@pytest.mark.parametrize(
    "q",
    [
        # projected plain var not a group key (explicit GROUP BY)
        "SELECT ?s WHERE { ?s ?p ?o } GROUP BY ?p",
        # implicit grouping via aggregate in SELECT
        "SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o }",
        # implicit grouping via HAVING
        "SELECT ?s WHERE { ?s ?p ?o } HAVING (COUNT(*) > 1)",
        # non-key var outside an aggregate in a projection expression
        "SELECT (?o + 1 AS ?t) (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s",
        # SELECT expression target already in scope in WHERE
        "SELECT (1 AS ?x) WHERE { ?x ?p ?o }",
        # SELECT expression target is a GROUP BY key
        "SELECT (STR(?x) AS ?x) WHERE { ?y <urn:p> 'v' } GROUP BY ?x",
        # BIND target in scope from a preceding triple
        "SELECT * WHERE { ?s ?p ?o . BIND(1 AS ?s) }",
        # BIND target in scope from a preceding BIND
        "SELECT ?x { BIND(1 AS ?x) ?s ?p ?o . BIND(2 AS ?x) }",
        # BIND target in scope from a preceding OPTIONAL
        "SELECT * WHERE { ?s ?p ?o OPTIONAL { ?s <urn:q> ?x } BIND(1 AS ?x) }",
    ],
)
def test_static_scope_errors_rejected_at_parse(q):
    assert not _parses(q)


@pytest.mark.parametrize(
    "q",
    [
        # group keys and aggregates project fine
        "SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?s",
        # later projection expression may use an earlier alias
        "SELECT (SUM(?o) AS ?t) (?t * 2 AS ?d) WHERE { ?s <urn:p> ?o } GROUP BY ?s",
        # GROUP BY (?x) makes ?x a key; GROUP BY (expr AS ?v) names ?v
        "SELECT ?x WHERE { ?s <urn:p> ?x } GROUP BY (?x)",
        "SELECT ?sx WHERE { ?s <urn:p> ?x } GROUP BY (STR(?x) AS ?sx)",
        # MINUS vars are NOT in scope: BIND on them afterwards is legal
        "SELECT * WHERE { ?s ?p ?o MINUS { ?s <urn:q> ?z } BIND(1 AS ?z) }",
        # sibling groups each have their own BIND scope
        "SELECT * WHERE { { BIND(1 AS ?x) } { BIND(2 AS ?x) } }",
        # ungrouped query projecting plain vars stays legal
        "SELECT ?s ?o WHERE { ?s ?p ?o }",
        # fresh SELECT expression target
        "SELECT (1 AS ?x) WHERE { ?s ?p ?o }",
    ],
)
def test_static_scope_legal_forms_accepted(q):
    assert _parses(q)
