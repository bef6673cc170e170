"""Round-3 SPARQL front-end surface: named graphs (GRAPH), full property-
path algebra (sequence / alternative / inverse / negated sets / nested
closures), subqueries, SERVICE [SILENT], VALUES UNDEF compatibility,
generalized HAVING, and term-preserving MIN/MAX/SAMPLE.

Reference semantics: RDF4J algebra evaluated by
strategy/.../HalyardTupleExprEvaluation.java (GRAPH/quads
common/.../HalyardTableUtils.java:267,282-287; SERVICE :630-703;
subquery scope :256-285; paths :1073-1098)."""

from __future__ import annotations

import pytest

from halyard_spark import nt
from halyard_spark.query.sparql import sparql_query, sparql_update, tokenize

EX = "http://example.org/"
PREFIXES = f"PREFIX ex: <{EX}>\n"


def rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def quads(spark):
    def t(s, p, o, g=None):
        return (nt.iri(EX + s), nt.iri(EX + p), o, nt.iri(EX + g) if g else None)

    data = [
        t("alice", "name", nt.lit("Alice"), "people"),
        t("alice", "knows", nt.iri(EX + "bob"), "people"),
        t("bob", "name", nt.lit("Bob"), "people"),
        t("acme", "name", nt.lit("Acme"), "orgs"),
        t("alice", "worksFor", nt.iri(EX + "acme"), "orgs"),
        t("root", "name", nt.lit("Default")),  # default graph (ctx NULL)
    ]
    return spark.createDataFrame(data, "subj string, pred string, obj string, ctx string")


@pytest.fixture(scope="module")
def tree(spark):
    """a -childOf-> b -childOf-> c; x -marriedTo-> a; names on all."""
    def t(s, p, o):
        return (nt.iri(EX + s), nt.iri(EX + p), o, None)

    data = [
        t("a", "childOf", nt.iri(EX + "b")),
        t("b", "childOf", nt.iri(EX + "c")),
        t("x", "marriedTo", nt.iri(EX + "a")),
        t("a", "name", nt.lit("Ann")),
        t("b", "name", nt.lit("Ben")),
        t("c", "name", nt.lit("Cyd")),
        t("x", "name", nt.lit("Xen")),
    ]
    return spark.createDataFrame(data, "subj string, pred string, obj string, ctx string")


# ------------------------------------------------------------- tokenizer

def test_pname_trailing_dot_is_terminator():
    toks = tokenize("?s a foaf:Person. }")
    values = [t.value for t in toks]
    assert "foaf:Person" in values and "." in values
    assert not any(v.endswith("Person.") for v in values)


def test_num_trailing_dot_is_terminator():
    toks = tokenize("FILTER(?x = 42. )")
    values = [t.value for t in toks]
    assert "42" in values and "." in values
    # but real decimals and exponent forms stay intact
    assert [t.value for t in tokenize("4.25")][0] == "4.25"
    assert [t.value for t in tokenize("1.e3")][0] == "1.e3"


def test_pname_local_with_inner_dot(spark, quads):
    # inner dots stay part of the local name
    toks = tokenize("ex:a.b.c ex:p ?o .")
    assert toks[0].value == "ex:a.b.c"


# ------------------------------------------------------------------ GRAPH

def test_graph_iri_scopes_pattern(spark, quads):
    out = sparql_query(quads, PREFIXES + """
        SELECT ?s ?n WHERE { GRAPH ex:people { ?s ex:name ?n } }""")
    assert rows(out) == sorted([
        (nt.iri(EX + "alice"), nt.lit("Alice")),
        (nt.iri(EX + "bob"), nt.lit("Bob")),
    ])


def test_graph_var_binds_context(spark, quads):
    out = sparql_query(quads, PREFIXES + """
        SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:name ?n } }""")
    got = rows(out)
    # default-graph row (ctx NULL) is excluded from GRAPH ?g
    assert (nt.iri(EX + "people"), nt.iri(EX + "alice")) in got
    assert (nt.iri(EX + "orgs"), nt.iri(EX + "acme")) in got
    assert all(g is not None for g, _ in got)
    assert len(got) == 3


def test_graph_var_joins_within_one_graph(spark, quads):
    # both triples must come from the SAME named graph
    out = sparql_query(quads, PREFIXES + """
        SELECT ?g ?o WHERE { GRAPH ?g { ex:alice ex:knows ?o . ?o ex:name ?n } }""")
    assert rows(out) == [(nt.iri(EX + "people"), nt.iri(EX + "bob"))]
    # worksFor target's name lives in a different graph -> no row
    out2 = sparql_query(quads, PREFIXES + """
        SELECT ?g WHERE { GRAPH ?g { ex:alice ex:worksFor ?o . ?o ex:knows ?x } }""")
    assert rows(out2) == []


def test_default_scope_reads_all_graphs(spark, quads):
    # no GRAPH clause = union of all contexts (the reference's unbound-ctx scan)
    out = sparql_query(quads, PREFIXES + "SELECT ?s WHERE { ?s ex:name ?n }")
    assert len(rows(out)) == 4


def test_update_insert_into_graph_and_with(spark):
    g = spark.createDataFrame(
        [(nt.iri(EX + "a"), nt.iri(EX + "p"), nt.lit("keep"), nt.iri(EX + "g1"))],
        "subj string, pred string, obj string, ctx string",
    )
    out = sparql_update(g, f"""
        PREFIX ex: <{EX}>
        INSERT DATA {{ GRAPH ex:g2 {{ ex:b ex:p "fresh" }} . ex:c ex:p "default" }}
    """)
    got = {(r["subj"], r["obj"], r["ctx"]) for r in out.collect()}
    assert (nt.iri(EX + "b"), nt.lit("fresh"), nt.iri(EX + "g2")) in got
    assert (nt.iri(EX + "c"), nt.lit("default"), None) in got

    # WITH: template + WHERE both target g1
    out2 = sparql_update(out, f"""
        PREFIX ex: <{EX}>
        WITH ex:g1 DELETE {{ ?s ex:p "keep" }} INSERT {{ ?s ex:p "renewed" }}
        WHERE {{ ?s ex:p "keep" }}
    """)
    got2 = {(r["subj"], r["obj"], r["ctx"]) for r in out2.collect()}
    assert (nt.iri(EX + "a"), nt.lit("renewed"), nt.iri(EX + "g1")) in got2
    assert (nt.iri(EX + "a"), nt.lit("keep"), nt.iri(EX + "g1")) not in got2
    # g2's row untouched
    assert (nt.iri(EX + "b"), nt.lit("fresh"), nt.iri(EX + "g2")) in got2


def test_update_with_scopes_where_to_graph(spark):
    # the WHERE pattern under WITH must not match other graphs
    g = spark.createDataFrame(
        [(nt.iri(EX + "a"), nt.iri(EX + "p"), nt.lit("v"), nt.iri(EX + "g2"))],
        "subj string, pred string, obj string, ctx string",
    )
    out = sparql_update(g, f"""
        PREFIX ex: <{EX}>
        WITH ex:g1 DELETE {{ ?s ex:p ?o }} WHERE {{ ?s ex:p ?o }}
    """)
    assert out.count() == 1  # nothing matched in g1; g2 row survives


# ------------------------------------------------------------------ paths

def test_path_sequence(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?n WHERE { ex:a ex:childOf/ex:name ?n }""")
    assert rows(out) == [(nt.lit("Ben"),)]
    out2 = sparql_query(tree, PREFIXES + """
        SELECT ?n WHERE { ex:a ex:childOf/ex:childOf/ex:name ?n }""")
    assert rows(out2) == [(nt.lit("Cyd"),)]


def test_path_alternative(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?o WHERE { ex:a (ex:childOf|ex:name) ?o }""")
    assert rows(out) == sorted([(nt.iri(EX + "b"),), (nt.lit("Ann"),)])


def test_path_inverse(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?child WHERE { ex:b ^ex:childOf ?child }""")
    assert rows(out) == [(nt.iri(EX + "a"),)]
    # inverse inside a sequence: who is married to a child of ?x
    out2 = sparql_query(tree, PREFIXES + """
        SELECT ?who WHERE { ex:b ^ex:childOf/^ex:marriedTo ?who }""")
    assert rows(out2) == [(nt.iri(EX + "x"),)]


def test_path_negated_property_set(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?o WHERE { ex:a !(ex:name) ?o }""")
    assert rows(out) == [(nt.iri(EX + "b"),)]
    # negated set with inverse member: incoming edges that aren't marriedTo
    out2 = sparql_query(tree, PREFIXES + """
        SELECT ?s WHERE { ex:a !(ex:childOf|^ex:marriedTo) ?s }""")
    assert rows(out2) == [(nt.lit("Ann"),)]  # only ex:name remains forward


def test_negated_property_set_repeated_variable(spark):
    # a variable used at both ends of a negated set is ONE variable: an
    # equality plus one column, as in a triple pattern (also for the
    # inverse arm, and for the graph variable inside GRAPH ?g)
    def t(s, p, o, g=None):
        return (nt.iri(EX + s), nt.iri(EX + p), nt.iri(EX + o), nt.iri(EX + g) if g else None)

    g = spark.createDataFrame(
        [t("a", "p", "a"), t("a", "q", "b"), t("b", "r", "b", "g"), t("c", "q", "c", "g")],
        "subj string, pred string, obj string, ctx string",
    )
    x = lambda n: (nt.iri(EX + n),)
    out = sparql_query(g, PREFIXES + "SELECT * { ?x !ex:p ?x }")
    assert out.columns == ["x"]
    assert rows(out) == [x("b"), x("c")]
    out2 = sparql_query(g, PREFIXES + "SELECT * { ?x !(ex:p|^ex:r) ?x }")
    assert out2.columns == ["x"]
    assert rows(out2) == [x("a"), x("b"), x("c"), x("c")]
    out3 = sparql_query(g, PREFIXES + "SELECT * { GRAPH ?g { ?g !ex:p ?o } }")
    assert sorted(out3.columns) == ["g", "o"]
    assert rows(out3) == []


def test_path_closure_over_sequence(spark, tree):
    # (childOf/childOf)+ from a: exactly the grandparent chain -> c
    out = sparql_query(tree, PREFIXES + """
        SELECT ?o WHERE { ex:a (ex:childOf/ex:childOf)+ ?o }""")
    assert rows(out) == [(nt.iri(EX + "c"),)]


def test_path_closure_over_alternative(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?o WHERE { ex:x (ex:marriedTo|ex:childOf)+ ?o }""")
    assert rows(out) == sorted([
        (nt.iri(EX + "a"),), (nt.iri(EX + "b"),), (nt.iri(EX + "c"),)])


def test_zero_length_identity_spans_all_terms(spark, tree):
    # `p1/p2?` must keep p1 pairs whose object has NO p2 edge: the
    # zero-length arm matches every graph term, not just p2's endpoints
    out = sparql_query(tree, PREFIXES + """
        SELECT ?o WHERE { ex:b ex:childOf/ex:marriedTo? ?o }""")
    assert rows(out) == [(nt.iri(EX + "c"),)]
    out2 = sparql_query(tree, PREFIXES + """
        SELECT ?s ?o WHERE { ?s ex:name/ex:marriedTo* ?o }""")
    assert len(rows(out2)) == 4  # every name literal maps to itself


def test_path_both_endpoints_bound(spark, tree):
    yes = sparql_query(tree, PREFIXES + "ASK { ex:a ex:childOf+ ex:c }").collect()
    assert yes[0]["ask"] is True
    no = sparql_query(tree, PREFIXES + "ASK { ex:c ex:childOf+ ex:a }").collect()
    assert no[0]["ask"] is False


def test_path_inside_graph_iri(spark, quads):
    out = sparql_query(quads, PREFIXES + """
        SELECT ?n WHERE { GRAPH ex:people { ex:alice ex:knows/ex:name ?n } }""")
    assert rows(out) == [(nt.lit("Bob"),)]


# -------------------------------------------------------------- subqueries

def test_subquery_aggregate_join(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s ?n ?cnt WHERE {
          ?s ex:name ?n .
          { SELECT ?s (COUNT(*) AS ?cnt) WHERE { ?s ex:childOf ?p } GROUP BY ?s }
        }""")
    got = {r["n"]: r["cnt"] for r in out.collect()}
    assert got == {nt.lit("Ann"): 1, nt.lit("Ben"): 1}


def test_subquery_scope_hides_inner_vars(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT * WHERE {
          { SELECT ?s WHERE { ?s ex:childOf ?hidden } }
        }""")
    assert out.columns == ["s"]


def test_subquery_limit_order(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?n WHERE {
          { SELECT ?s WHERE { ?s ex:name ?x } ORDER BY ?x LIMIT 1 }
          ?s ex:name ?n .
        }""")
    assert rows(out) == [(nt.lit("Ann"),)]


def test_subquery_with_optional_ses2154(spark, tree):
    # the reference's SES2154 regression shape: OPTIONAL inside a subselect
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s ?spouse WHERE {
          { SELECT ?s ?spouse WHERE {
              ?s ex:name ?n .
              OPTIONAL { ?spouse ex:marriedTo ?s }
          } }
          ?s ex:childOf ?p .
        }""")
    got = {r["s"]: r["spouse"] for r in out.collect()}
    assert got[nt.iri(EX + "a")] == nt.iri(EX + "x")
    assert got[nt.iri(EX + "b")] is None


def test_bind_first_group(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?x ?n WHERE { BIND(1 AS ?x) ex:a ex:name ?n }""")
    assert rows(out) == [(1, nt.lit("Ann"))]


# ----------------------------------------------------------------- SERVICE

def test_service_joins_second_store(spark, tree):
    other = spark.createDataFrame(
        [(nt.iri(EX + "a"), nt.iri(EX + "salary"), nt.lit("100", dtype=nt.XSD + "integer"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s ?sal WHERE {
          ?s ex:name ?n .
          SERVICE <urn:store:hr> { ?s ex:salary ?sal }
        }""", services={"urn:store:hr": other})
    assert rows(out) == [(nt.iri(EX + "a"), nt.lit("100", dtype=nt.XSD + "integer"))]


def test_service_missing_endpoint_raises(spark, tree):
    with pytest.raises(ValueError, match="no registered endpoint"):
        sparql_query(tree, PREFIXES + """
            SELECT ?s WHERE { SERVICE <urn:store:nope> { ?s ex:p ?o } }""").collect()


def test_service_silent_swallows_missing_endpoint(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s WHERE {
          ?s ex:childOf ?p .
          SERVICE SILENT <urn:store:nope> { ?s ex:salary ?sal }
        }""")
    assert len(rows(out)) == 2  # unit solution: left side passes through


# ------------------------------------------------------------ VALUES UNDEF

def test_values_undef_is_wildcard(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s ?n WHERE {
          ?s ex:name ?n .
          VALUES (?s ?n) { (ex:a UNDEF) (UNDEF "Cyd") }
        }""")
    assert rows(out) == sorted([
        (nt.iri(EX + "a"), nt.lit("Ann")),
        (nt.iri(EX + "c"), nt.lit("Cyd")),
    ])


def test_values_undef_fills_from_values_side(spark, tree):
    # var bound only in VALUES flows into the result
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s ?tag WHERE {
          ?s ex:childOf ?p .
          VALUES (?s ?tag) { (ex:a "young") (UNDEF "any") }
        }""")
    got = sorted((r["s"], r["tag"]) for r in out.collect())
    assert got == sorted([
        (nt.iri(EX + "a"), nt.lit("young")),
        (nt.iri(EX + "a"), nt.lit("any")),
        (nt.iri(EX + "b"), nt.lit("any")),
    ])


# ----------------------------------------------------------------- HAVING

def test_having_aggregate_on_right(spark, tree):
    # subjects: a,b,x have 2 triples each; c has 1
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o }
        GROUP BY ?s HAVING (1 < COUNT(*))""")
    assert {r["s"] for r in out.collect()} == {
        nt.iri(EX + "a"), nt.iri(EX + "b"), nt.iri(EX + "x")}


def test_having_conjunction_and_two_conditions(spark, tree):
    # grammar §19.8: ONE HavingClause with HavingCondition+ — multiple
    # bracketted conditions AND within the clause.  (A repeated HAVING
    # keyword is a syntax error since the round-5 modifier-order
    # enforcement; the old two-clause spelling asserted the pre-strict
    # leniency.)
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o }
        GROUP BY ?s HAVING (COUNT(*) >= 1 && COUNT(*) <= 2) (COUNT(?p) = 1)""")
    assert {r["s"] for r in out.collect()} == {nt.iri(EX + "c")}
    assert "__having" not in "".join(out.columns)

    import pytest as _pytest

    with _pytest.raises(SyntaxError):
        sparql_query(tree, PREFIXES + """
            SELECT ?s (COUNT(*) AS ?n) WHERE { ?s ?p ?o }
            GROUP BY ?s HAVING (COUNT(*) >= 1) HAVING (COUNT(?p) = 1)""")


# ----------------------------------------- term-preserving MIN/MAX/SAMPLE

def test_min_max_sample_return_terms(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT (MIN(?n) AS ?lo) (MAX(?n) AS ?hi) (SAMPLE(?s) AS ?any)
        WHERE { ?s ex:name ?n }""")
    r = out.collect()[0]
    assert r["lo"] == nt.lit("Ann") and r["hi"] == nt.lit("Xen")
    assert r["any"].startswith("<")  # still an IRI term, not a bare label


def test_min_max_numeric_terms_compare_numerically(spark):
    g = spark.createDataFrame(
        [
            ("<urn:x>", "<urn:v>", nt.lit("9", dtype=nt.XSD + "integer"), None),
            ("<urn:x>", "<urn:v>", nt.lit("10", dtype=nt.XSD + "integer"), None),
        ],
        "subj string, pred string, obj string, ctx string",
    )
    r = sparql_query(g, "SELECT (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) WHERE { ?s <urn:v> ?v }").collect()[0]
    assert r["lo"] == nt.lit("9", dtype=nt.XSD + "integer")  # numeric, not lexicographic
    assert r["hi"] == nt.lit("10", dtype=nt.XSD + "integer")


# ---------------------------------------------- quantified compare helpers

def test_compare_any_all(spark):
    from pyspark.sql import functions as F

    from halyard_spark.query import exprs as E

    df = spark.createDataFrame(
        [(nt.lit(str(v), dtype=nt.XSD + "integer"),) for v in (5, 20)], "x string"
    )
    vals = [F.lit(nt.lit("10", dtype=nt.XSD + "integer")),
            F.lit(nt.lit("3", dtype=nt.XSD + "integer"))]
    got = df.select(
        "x",
        E.compare_any(F.col("x"), "<", vals).alias("any_lt"),
        E.compare_all(F.col("x"), ">", vals).alias("all_gt"),
    ).collect()
    by = {r["x"]: (r["any_lt"], r["all_gt"]) for r in got}
    assert by[nt.lit("5", dtype=nt.XSD + "integer")] == (True, False)   # 5<10 any; 5>3 but not >10
    assert by[nt.lit("20", dtype=nt.XSD + "integer")] == (False, True)  # 20 not < any; > all
    # empty sets: ANY -> false, ALL -> vacuously true
    r = df.select(E.compare_any(F.col("x"), "=", []).alias("a"),
                  E.compare_all(F.col("x"), "=", []).alias("b")).collect()[0]
    assert r["a"] is False and r["b"] is True


# ------------------------------------------------------------ FROM datasets

def test_from_merges_named_graphs_into_default(spark, quads):
    out = sparql_query(quads, PREFIXES + """
        SELECT ?s FROM ex:people WHERE { ?s ex:name ?n }""")
    assert rows(out) == sorted([(nt.iri(EX + "alice"),), (nt.iri(EX + "bob"),)])
    out2 = sparql_query(quads, PREFIXES + """
        SELECT ?s FROM ex:people FROM ex:orgs WHERE { ?s ex:name ?n }""")
    assert len(rows(out2)) == 3  # merge of both graphs; default-graph row excluded


def test_from_named_bounds_graph_space(spark, quads):
    out = sparql_query(quads, PREFIXES + """
        SELECT ?g ?s FROM NAMED ex:orgs WHERE { GRAPH ?g { ?s ex:name ?n } }""")
    assert rows(out) == [(nt.iri(EX + "orgs"), nt.iri(EX + "acme"))]
    # constant GRAPH outside the named list matches nothing
    out2 = sparql_query(quads, PREFIXES + """
        SELECT ?s FROM NAMED ex:orgs WHERE { GRAPH ex:people { ?s ex:name ?n } }""")
    assert rows(out2) == []


def test_from_only_empties_graph_space(spark, quads):
    # dataset with FROM but no FROM NAMED has no named graphs (SPARQL §13.2)
    out = sparql_query(quads, PREFIXES + """
        SELECT ?g FROM ex:people WHERE { GRAPH ?g { ?s ex:name ?n } }""")
    assert rows(out) == []


def test_update_using_scopes_where(spark):
    # USING restricts the WHERE pattern's default graph (UPDATE's FROM)
    g = spark.createDataFrame(
        [
            (nt.iri(EX + "a"), nt.iri(EX + "p"), nt.lit("1"), nt.iri(EX + "g1")),
            (nt.iri(EX + "b"), nt.iri(EX + "p"), nt.lit("2"), nt.iri(EX + "g2")),
        ],
        "subj string, pred string, obj string, ctx string",
    )
    out = sparql_update(g, f"""
        PREFIX ex: <{EX}>
        DELETE {{ ?s ex:p ?o }} USING ex:g1 WHERE {{ ?s ex:p ?o }}
    """)
    got = {(r["subj"], r["ctx"]) for r in out.collect()}
    # only g1's statement matched the pattern and was deleted (the no-ctx
    # delete template resolves the actual quad in any graph)
    assert got == {(nt.iri(EX + "b"), nt.iri(EX + "g2"))}


# ------------------------------------------------------- graph management

def _gm_store(spark):
    return spark.createDataFrame(
        [
            (nt.iri(EX + "a"), nt.iri(EX + "p"), nt.lit("1"), nt.iri(EX + "g1")),
            (nt.iri(EX + "b"), nt.iri(EX + "p"), nt.lit("2"), nt.iri(EX + "g2")),
            (nt.iri(EX + "c"), nt.iri(EX + "p"), nt.lit("3"), None),
        ],
        "subj string, pred string, obj string, ctx string",
    )


def test_update_clear_and_drop(spark):
    g = _gm_store(spark)
    out = sparql_update(g, f"PREFIX ex: <{EX}>\nCLEAR GRAPH ex:g1")
    assert {r["ctx"] for r in out.collect()} == {nt.iri(EX + "g2"), None}
    out2 = sparql_update(g, "CLEAR DEFAULT")
    assert {r["ctx"] for r in out2.collect()} == {nt.iri(EX + "g1"), nt.iri(EX + "g2")}
    out3 = sparql_update(g, "DROP SILENT NAMED")
    assert {r["ctx"] for r in out3.collect()} == {None}
    assert sparql_update(g, "CLEAR ALL").count() == 0


def test_update_copy_move_add(spark):
    g = _gm_store(spark)
    # ADD: union into the target, source kept
    out = sparql_update(g, f"PREFIX ex: <{EX}>\nADD ex:g1 TO ex:g2")
    rows_ = {(r["subj"], r["ctx"]) for r in out.collect()}
    assert (nt.iri(EX + "a"), nt.iri(EX + "g2")) in rows_
    assert (nt.iri(EX + "a"), nt.iri(EX + "g1")) in rows_
    # COPY: target replaced wholesale
    out2 = sparql_update(g, f"PREFIX ex: <{EX}>\nCOPY ex:g1 TO ex:g2")
    rows2 = {(r["subj"], r["ctx"]) for r in out2.collect()}
    assert (nt.iri(EX + "b"), nt.iri(EX + "g2")) not in rows2
    assert (nt.iri(EX + "a"), nt.iri(EX + "g2")) in rows2
    # MOVE: source emptied
    out3 = sparql_update(g, f"PREFIX ex: <{EX}>\nMOVE ex:g1 TO DEFAULT")
    rows3 = {(r["subj"], r["ctx"]) for r in out3.collect()}
    assert (nt.iri(EX + "a"), None) in rows3
    assert not any(c == nt.iri(EX + "g1") for _, c in rows3)
    # the old default-graph row was replaced by the move
    assert (nt.iri(EX + "c"), None) not in rows3
    # CREATE is a no-op
    assert sparql_update(g, f"PREFIX ex: <{EX}>\nCREATE GRAPH ex:gnew").count() == 3


# ------------------------------------------- mixed aggregate projections

def test_select_expression_over_aggregate(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s (COUNT(*) * 2 AS ?n2) (CONCAT("c=", STR(COUNT(*))) AS ?lbl)
        WHERE { ?s ?p ?o } GROUP BY ?s""")
    got = {r["s"]: (r["n2"], r["lbl"]) for r in out.collect()}
    assert got[nt.iri(EX + "a")] == (4.0, "c=2") or got[nt.iri(EX + "a")][1] == "c=2"
    assert all(lbl == f"c={int(n2/2)}" for n2, lbl in got.values())
    assert "__having" not in "".join(out.columns)


def test_scalar_of_group_key_in_aggregated_select(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT (STR(?s) AS ?sid) (COUNT(*) AS ?n) WHERE { ?s ex:name ?o }
        GROUP BY ?s""")
    got = {r["sid"]: r["n"] for r in out.collect()}
    assert got[EX + "a"] == 1 and len(got) == 4


# ----------------------------------------------------- pattern blank nodes

def test_bnode_property_list_pattern(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?who WHERE { ?who ex:marriedTo [ ex:name "Ann" ] }""")
    assert rows(out) == [(nt.iri(EX + "x"),)]
    out2 = sparql_query(tree, PREFIXES + """
        SELECT ?n WHERE { [ ex:childOf ex:b ] ex:name ?n }""")
    assert rows(out2) == [(nt.lit("Ann"),)]


def test_labeled_bnode_acts_as_variable(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?n WHERE { _:x ex:childOf ex:c . _:x ex:name ?n }""")
    assert rows(out) == [(nt.lit("Ben"),)]


def test_select_star_hides_bnodes(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT * WHERE { ?who ex:marriedTo [ ex:name ?n ] }""")
    assert sorted(out.columns) == ["n", "who"]


def test_closure_path_inside_graph_var(spark):
    def t(s, p, o, g):
        return (nt.iri(EX + s), nt.iri(EX + "next"), nt.iri(EX + o), nt.iri(EX + g))

    # g1: a->b->c ; g2: a->z (same node ids, different graph)
    data = [t("a", "next", "b", "g1"), t("b", "next", "c", "g1"),
            t("a", "next", "z", "g2")]
    g = spark.createDataFrame(data, "subj string, pred string, obj string, ctx string")
    out = sparql_query(g, PREFIXES + """
        SELECT ?g ?o WHERE { GRAPH ?g { ex:a ex:next+ ?o } }""")
    got = {(r["g"], r["o"]) for r in out.collect()}
    # closure stays within each graph: c reachable only in g1, z only in g2
    assert got == {
        (nt.iri(EX + "g1"), nt.iri(EX + "b")),
        (nt.iri(EX + "g1"), nt.iri(EX + "c")),
        (nt.iri(EX + "g2"), nt.iri(EX + "z")),
    }
    # var-var closure binds per-graph pairs
    out2 = sparql_query(g, PREFIXES + """
        SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s ex:next+ ?o } }""")
    pairs = {(r["g"], r["s"], r["o"]) for r in out2.collect()}
    assert (nt.iri(EX + "g1"), nt.iri(EX + "a"), nt.iri(EX + "c")) in pairs
    assert not any(gg == nt.iri(EX + "g2") and o == nt.iri(EX + "c") for gg, _, o in pairs)
    # both endpoints bound: per-graph EXISTS with ?g bound
    out3 = sparql_query(g, PREFIXES + """
        SELECT ?g WHERE { GRAPH ?g { ex:a ex:next+ ex:c } }""")
    assert rows(out3) == [(nt.iri(EX + "g1"),)]


# ---------------------------------------------------- BGP join reordering

def test_bgp_reorder_heuristic():
    from halyard_spark.query.sparql import _Planner

    v = lambda n: ("var", n)
    c = lambda x: ("iri", x)
    # textual order starts with the all-var pattern; the optimizer must
    # lead with the most-bound one and then chain through shared vars
    run = [
        ("triple", v("s"), v("p"), v("o")),
        ("triple", v("s"), c("p1"), v("x")),
        ("triple", v("x"), c("p2"), c("o2")),
    ]
    out = _Planner._reorder_bgp(run)
    assert out[0] == ("triple", v("x"), c("p2"), c("o2"))  # 2 consts first
    assert out[1] == ("triple", v("s"), c("p1"), v("x"))   # shares ?x
    assert out[2][1] == v("s")
    # no shared var available: cartesian deferred to last
    run2 = [
        ("triple", v("a"), v("p"), v("b")),
        ("triple", v("c"), c("p3"), c("o3")),
    ]
    out2 = _Planner._reorder_bgp(run2)
    assert out2[0] == ("triple", v("c"), c("p3"), c("o3"))


def test_bgp_reorder_preserves_results(spark, tree):
    # all-var pattern written first: same answers after reordering
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s ?n WHERE {
          ?s ?p ?o .
          ?s ex:childOf ex:b .
          ?s ex:name ?n .
        }""")
    got = {(r["s"], r["n"]) for r in out.collect()}
    assert got == {(nt.iri(EX + "a"), nt.lit("Ann"))}


def test_update_insert_into_variable_graph(spark):
    # template GRAPH ?g: each solution's binding decides the target graph
    g = spark.createDataFrame(
        [
            (nt.iri(EX + "a"), nt.iri(EX + "p"), nt.lit("1"), nt.iri(EX + "g1")),
            (nt.iri(EX + "b"), nt.iri(EX + "p"), nt.lit("2"), nt.iri(EX + "g2")),
        ],
        "subj string, pred string, obj string, ctx string",
    )
    out = sparql_update(g, f"""
        PREFIX ex: <{EX}>
        INSERT {{ GRAPH ?g {{ ?s ex:mark "seen" }} }}
        WHERE {{ GRAPH ?g {{ ?s ex:p ?o }} }}
    """)
    got = {(r["subj"], r["obj"], r["ctx"]) for r in out.collect()}
    assert (nt.iri(EX + "a"), nt.lit("seen"), nt.iri(EX + "g1")) in got
    assert (nt.iri(EX + "b"), nt.lit("seen"), nt.iri(EX + "g2")) in got
    assert (nt.iri(EX + "a"), nt.lit("seen"), nt.iri(EX + "g2")) not in got


def test_update_template_instantiates_in_one_pass(spark, monkeypatch):
    # every template quad comes out of ONE pass over the WHERE solutions
    # (no Union arm per quad), and a template bnode mints "_:u" + sha1
    # hex, the same label each time the same solution is instantiated
    import re

    from halyard_spark.query import sparql as S

    made = []

    def spy(*args):
        made.append(real(*args))
        return made[-1]

    real = S._instantiate
    monkeypatch.setattr(S, "_instantiate", spy)
    g = spark.createDataFrame(
        [(nt.iri(EX + "a"), nt.iri(EX + "p"), nt.lit("1"), None),
         (nt.iri(EX + "b"), nt.iri(EX + "p"), nt.lit("2"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    update = PREFIXES + """
        INSERT { ?s ex:q ?o . ?s ex:r ?o . _:n ex:of ?s }
        WHERE { ?s ex:p ?o }"""
    minted = []
    for _ in range(2):
        out = sparql_update(g, update)
        minted.append(sorted(r["subj"] for r in out.where(out.pred == nt.iri(EX + "of")).collect()))
    (ins, _) = made
    assert "Union" not in ins._jdf.queryExecution().optimizedPlan().toString()
    assert ins.count() == 6
    assert len(minted[0]) == 2 and minted[0] == minted[1]
    assert all(re.fullmatch("_:u[0-9a-f]{40}", b) for b in minted[0])


def test_order_by_bare_aggregate(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?p WHERE { ?s ?p ?o } GROUP BY ?p
        ORDER BY DESC(COUNT(*)) ?p LIMIT 2""")
    got = [r["p"] for r in out.collect()]
    assert got[0] == nt.iri(EX + "name")  # 4 names beat 2 childOf
    assert "__having" not in "".join(out.columns)


def test_filter_without_parens(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s WHERE { ?s ex:name ?n FILTER REGEX(?n, "^A") }""")
    assert rows(out) == [(nt.iri(EX + "a"),)]


def test_trailing_values_clause(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s ?n WHERE { ?s ex:name ?n } VALUES ?n { "Ann" "Xen" }""")
    assert rows(out) == sorted([
        (nt.iri(EX + "a"), nt.lit("Ann")), (nt.iri(EX + "x"), nt.lit("Xen"))])


def test_group_by_expression(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?first (COUNT(*) AS ?n) WHERE { ?s ex:name ?nm }
        GROUP BY (SUBSTR(?nm, 1, 1) AS ?first)""")
    got = {r["first"]: r["n"] for r in out.collect()}
    assert got == {"A": 1, "B": 1, "C": 1, "X": 1}
    # expression without alias still groups (hidden key)
    out2 = sparql_query(tree, PREFIXES + """
        SELECT (COUNT(*) AS ?n) WHERE { ?s ex:name ?nm }
        GROUP BY (STRLEN(?nm))""")
    assert [r["n"] for r in out2.collect()] == [4]  # all names length 3


def test_order_by_bare_function_call(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT ?n WHERE { ?s ex:name ?n } ORDER BY STRLEN(?n) ?n LIMIT 1""")
    assert [r["n"] for r in out.collect()] == [nt.lit("Ann")]


def test_replace_function(spark, tree):
    out = sparql_query(tree, PREFIXES + """
        SELECT (REPLACE(?n, "n+", "N") AS ?r) (REPLACE(?n, "^a", "@", "i") AS ?ci)
        WHERE { ex:a ex:name ?n }""")
    r = out.collect()[0]
    assert r["r"] == "AN" and r["ci"] == "@nn"


# --------------------------------------------- VALUES textual position

def test_values_before_optional_binds_first(spark):
    """VALUES joins at its textual position (SPARQL 18.2.2.6 translates
    inline data to a Join THERE), so a VALUES binding that precedes an
    OPTIONAL constrains the OPTIONAL's pattern — it must not be deferred
    past the LeftJoin (round-4 ADVICE regression)."""
    data = [
        (nt.iri(EX + "s1"), nt.iri(EX + "p"), nt.iri(EX + "o1"), None),
        (nt.iri(EX + "o1"), nt.iri(EX + "q"), nt.lit("2"), None),
    ]
    g = spark.createDataFrame(data, "subj string, pred string, obj string, ctx string")
    out = sparql_query(g, PREFIXES + """
        SELECT ?s ?x WHERE {
          ?s ex:p ?o .
          VALUES ?x { "1" }
          OPTIONAL { ?o ex:q ?x }
        }""")
    # VALUES binds ?x="1" BEFORE the LeftJoin; the OPTIONAL pattern
    # (o1 q "1") then fails to match, but the row survives with ?x="1".
    assert rows(out) == [(nt.iri(EX + "s1"), nt.lit("1"))]


def test_values_before_minus_flushes(spark, tree):
    """A leading VALUES must be live before a MINUS evaluates."""
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s WHERE {
          VALUES ?s { ex:a ex:c }
          MINUS { ?s ex:childOf ?p }
        }""")
    # a has a childOf edge -> removed; c does not -> kept
    assert rows(out) == [(nt.iri(EX + "c"),)]


# ----------------------------- composite closure paths inside GRAPH ?var

@pytest.fixture(scope="module")
def twograph(spark):
    data = [
        ("<urn:a>", "<urn:p>", "<urn:b>", "<urn:g1>"),
        ("<urn:b>", "<urn:q>", "<urn:c>", "<urn:g1>"),
        ("<urn:c>", "<urn:p>", "<urn:d>", "<urn:g1>"),
        ("<urn:a>", "<urn:p>", "<urn:x>", "<urn:g2>"),
        ("<urn:x>", "<urn:q>", "<urn:y>", "<urn:g2>"),
    ]
    return spark.createDataFrame(data, "subj string, pred string, obj string, ctx string")


def test_graph_var_composite_seq_closure(spark, twograph):
    """(p/q)+ under GRAPH ?g: one job over all graphs, paths never cross
    graph boundaries (the round-3 known-partial, now closed)."""
    out = sparql_query(twograph, "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x (<urn:p>/<urn:q>)+ ?y } }")
    assert rows(out) == sorted([
        ("<urn:g1>", "<urn:a>", "<urn:c>"),
        ("<urn:g2>", "<urn:a>", "<urn:y>"),
    ])


def test_graph_var_composite_alt_closure(spark, twograph):
    out = sparql_query(twograph, "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x (<urn:p>|<urn:q>)+ ?y } }")
    got = rows(out)
    # g1's chain a-p-b-q-c-p-d closes fully; g2's a-p-x-q-y too; no mixing
    assert ("<urn:g1>", "<urn:a>", "<urn:d>") in got
    assert ("<urn:g2>", "<urn:a>", "<urn:y>") in got
    assert all(g in ("<urn:g1>", "<urn:g2>") for g, _, _ in got)
    assert ("<urn:g1>", "<urn:a>", "<urn:x>") not in got  # cross-graph leak


def test_graph_var_composite_star_bound_source(spark, twograph):
    out = sparql_query(twograph, "SELECT ?g ?y WHERE { GRAPH ?g { <urn:a> (<urn:p>/<urn:q>)* ?y } }")
    assert rows(out) == sorted([
        ("<urn:g1>", "<urn:a>"), ("<urn:g1>", "<urn:c>"),
        ("<urn:g2>", "<urn:a>"), ("<urn:g2>", "<urn:y>"),
    ])


def test_bind_after_leading_values(spark, tree):
    """BIND reads in-scope bindings: a leading VALUES must be live before
    a BIND that references its variable (code-review regression)."""
    out = sparql_query(tree, PREFIXES + """
        SELECT ?y WHERE { VALUES ?x { 1 2 } BIND(?x + 1 AS ?y) }""")
    assert sorted(r["y"] for r in out.collect()) == [2, 3]


# ------------------- UNDEF-as-unbound compatibility through later joins

def test_values_undef_before_later_pattern(spark, tree):
    """A mid-group VALUES UNDEF must keep acting as a wildcard against a
    LATER triple pattern (the in-place join materializes UNDEF as NULL;
    the later join needs compatibility semantics, not an equi-join) —
    and the result must equal the trailing-VALUES ordering."""
    q_mid = PREFIXES + """
        SELECT ?s ?n ?x WHERE {
          ?s ex:name ?n .
          VALUES (?s ?x) { (ex:a UNDEF) }
          ?s ex:childOf ?x
        }"""
    q_tail = PREFIXES + """
        SELECT ?s ?n ?x WHERE {
          ?s ex:name ?n . ?s ex:childOf ?x
          VALUES (?s ?x) { (ex:a UNDEF) }
        }"""
    expect = [(nt.iri(EX + "a"), nt.lit("Ann"), nt.iri(EX + "b"))]
    assert rows(sparql_query(tree, q_mid)) == expect
    assert rows(sparql_query(tree, q_tail)) == expect


def test_values_undef_before_optional_is_wildcard(spark, tree):
    """A leading VALUES whose var is entirely UNDEF: the empty mapping is
    compatible with EVERY optional solution (SPARQL LeftJoin), so the
    OPTIONAL fills the variable per match instead of matching nothing."""
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s ?n WHERE {
          VALUES ?s { UNDEF }
          OPTIONAL { ?s ex:name ?n }
        }""")
    got = rows(out)
    assert (nt.iri(EX + "a"), nt.lit("Ann")) in got
    assert (nt.iri(EX + "x"), nt.lit("Xen")) in got
    assert len(got) == 4  # one per name; no (null, null) row


def test_values_undef_before_minus_removes_compatible(spark, tree):
    """MINUS compatibility with an unbound var: the mapping (UNDEF ?s,
    "Ann" ?n) shares the bound ?n with solution (a, "Ann"), so it must be
    removed; a row whose bound var matches nothing survives."""
    out = sparql_query(tree, PREFIXES + """
        SELECT ?s ?n WHERE {
          VALUES (?s ?n) { (UNDEF "Ann") (UNDEF "Zzz") }
          MINUS { ?s ex:name ?n }
        }""")
    assert rows(out) == [(None, nt.lit("Zzz"))]


def test_path_closure_repeated_var(spark):
    """`?s p+ ?s` (cycle detection) and `GRAPH ?g { ?g p+ ?o }` are valid
    SPARQL: a repeated variable becomes an equality constraint, not an
    ambiguous-column crash."""
    data = [
        ("<urn:c1>", "<urn:p>", "<urn:c2>", None),
        ("<urn:c2>", "<urn:p>", "<urn:c1>", None),
        ("<urn:c2>", "<urn:p>", "<urn:d>", None),
        ("<urn:g>", "<urn:p>", "<urn:o>", "<urn:g>"),
    ]
    g = spark.createDataFrame(data, "subj string, pred string, obj string, ctx string")
    cyc = sparql_query(g, "SELECT ?s WHERE { ?s <urn:p>+ ?s }")
    assert sorted(r["s"] for r in cyc.collect()) == ["<urn:c1>", "<urn:c2>"]
    gg = sparql_query(g, "SELECT ?g ?o WHERE { GRAPH ?g { ?g <urn:p>+ ?o } }")
    assert rows(gg) == [("<urn:g>", "<urn:o>")]
