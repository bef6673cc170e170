"""W3C-conformance-style semantic edge cases (FIXTURES.md B6, B3, B4) —
the behaviors that distinguish SPARQL algebra from plain relational ops,
line-mapped to the reference implementations.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from halyard_spark import nt
from halyard_spark.query import algebra as A
from halyard_spark.query import exprs as E
from halyard_spark.query.sparql import _BUILTINS, _Parser, _Planner, tokenize


def test_minus_disjoint_domain_row_kept(spark):
    """MINUS drops left rows compatible with a right row sharing >=1 var;
    rows whose domains are DISJOINT are kept
    (HalyardTupleExprEvaluation.java:968-985)."""
    left = spark.createDataFrame([(1, "a"), (2, "b")], "x int, y string")
    right_shared = spark.createDataFrame([(1,)], "x int")
    assert {r.x for r in A.minus(left, right_shared).collect()} == {2}
    # no shared variables at all -> nothing removed
    right_disjoint = spark.createDataFrame([("zzz",)], "z string")
    assert A.minus(left, right_disjoint).count() == 2


def test_filter_error_is_false(spark):
    """FILTER: a type error makes the row FALSE, not a query failure
    (HalyardTupleExprEvaluation.java:346-360).  '12' < 20 is a numeric
    compare; 'abc' < 20 is a type error -> dropped."""
    df = spark.createDataFrame([('"12"',), ('"abc"',), ('"30"',)], "v string")
    cond = E.try_numeric("v") < 20
    out = df.filter(E.filter_cond(cond))
    assert {r.v for r in out.collect()} == {'"12"'}


def test_bind_error_is_unbound(spark):
    """BIND: evaluation error leaves the variable unbound (NULL), the row
    survives (HalyardTupleExprEvaluation.java:579-585)."""
    df = spark.createDataFrame([('"5"',), ('"oops"',)], "v string")
    out = df.withColumn("doubled", E.bind_safe(E.try_numeric("v") * 2))
    rows = {r.v: r.doubled for r in out.collect()}
    assert rows['"5"'] == 10.0 and rows['"oops"'] is None
    assert out.count() == 2


def test_badly_designed_optional(spark):
    """OPTIONAL whose condition references a var bound outside the right
    pattern (Perez et al. §4.2; HalyardTupleExprEvaluation.java:770-866):
    the condition must be evaluated in the JOIN scope, not pushed into the
    right side as a pre-filter."""
    people = spark.createDataFrame([("alice", 10), ("bob", 99)], "name string, threshold int")
    scores = spark.createDataFrame([("alice", 50), ("bob", 50)], "name string, score int")
    out = A.optional_join(people, scores, condition=F.col("score") > F.col("threshold"))
    rows = {r.name: r.score for r in out.collect()}
    # alice: 50 > 10 -> extended; bob: 50 > 99 fails -> kept with NULL
    assert rows == {"alice": 50, "bob": None}


def test_union_bag_keeps_duplicates(spark):
    a = spark.createDataFrame([(1,)], "x int")
    assert A.union_bag(a, a).count() == 2


def test_values_compatibility_join(spark):
    """VALUES merge: rows merge when shared vars agree, conflict -> drop
    (HalyardTupleExprEvaluation.java:1106-1145)."""
    incoming = spark.createDataFrame([(1, "p"), (2, "q")], "x int, y string")
    vals = A.values_table(spark, [(1, "extra")], "x int, z string")
    out = A.bgp_join(incoming, vals)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].y == "p" and rows[0].z == "extra"


def test_sparql_order_key_type_ranking(spark):
    """ORDER BY over mixed terms: bnode < IRI < literal, numerics by value
    (ValueComparator semantics)."""
    df = spark.createDataFrame(
        [('"10"',), ('"2"',), ("<urn:z>",), ("_:b",), ('"apple"',)], "t string"
    )
    got = [r.t for r in df.orderBy(*E.order_key("t")).collect()]
    assert got == ["_:b", "<urn:z>", '"2"', '"10"', '"apple"']


def test_big_literal_roundtrip_pipeline(spark):
    """100k-char literal shape (HalyardTableUtilsTest.java:62-78): survives
    nt encode/decode and the extract stage's sha256 invariant."""
    big = "x" * 100_000 + '"quote\ttab\nnl'
    term = nt.lit(big)
    assert nt.parse_term(term)["value"] == big

    import hashlib

    src = spark.createDataFrame(
        [("r/big", "src/p/big.py", "c", "python", "class Big:\n    pass\n# " + big)],
        "repo string, path string, commit string, lang string, content string",
    )
    from halyard_spark.pipeline import extract

    m = extract.extract_mentions(src).select("content_sha256").first()
    expected = hashlib.sha256(("class Big:\n    pass\n# " + big).encode()).hexdigest()
    assert m["content_sha256"] == expected


def test_dedup_hash_collision_defense(spark):
    """B3: dedup must be on full values, never hash alone.  exact_dedup
    groups by digest; equal digests with different text (a collision)
    must NOT merge — verified by the value-equality confirmation."""
    from halyard_spark.ops.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")], "doc_id long, text string"
    )
    got = {(r.doc_id, r.canonical_id) for r in exact_dedup(docs).collect()}
    assert got == {(1, 1), (2, 1), (3, 3)}


# ---------------- round-4 review regressions: unbound in value expressions


def test_compare_unbound_is_type_error(spark):
    """FILTER(?x = "a") with ?x unbound: type error -> row dropped; the
    old otherwise(0) arm declared unbound EQUAL to everything."""
    from halyard_spark import nt
    from halyard_spark.query.sparql import sparql_query

    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", nt.lit("v"), None),
         ("<urn:a>", "<urn:q>", nt.lit("w"), None),
         ("<urn:b>", "<urn:p>", nt.lit("v"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    out = sparql_query(g, """
        SELECT ?s WHERE { ?s <urn:p> ?v OPTIONAL { ?s <urn:q> ?x }
                          FILTER(?x = "w") }""")
    assert [r["s"] for r in out.collect()] == ["<urn:a>"]
    out2 = sparql_query(g, """
        SELECT ?s WHERE { ?s <urn:p> ?v OPTIONAL { ?s <urn:q> ?x }
                          FILTER(?x != "zzz") }""")
    # b's ?x is unbound -> comparison errors -> filter false -> only a
    assert [r["s"] for r in out2.collect()] == ["<urn:a>"]


def test_ebv_of_iri_is_error(spark):
    """FILTER(?s) where ?s is an IRI: EBV type error -> row dropped."""
    from halyard_spark import nt
    from halyard_spark.query.sparql import sparql_query

    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", nt.lit("x"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    assert sparql_query(g, "SELECT ?s WHERE { ?s <urn:p> ?o FILTER(?s) }").count() == 0
    # ill-formed numeric literal -> EBV false
    g2 = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", '"abc"^^<http://www.w3.org/2001/XMLSchema#integer>', None)],
        "subj string, pred string, obj string, ctx string",
    )
    assert sparql_query(g2, "SELECT ?s WHERE { ?s <urn:p> ?o FILTER(?o) }").count() == 0
    # well-formed non-zero numeric -> true
    g3 = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", '"3"^^<http://www.w3.org/2001/XMLSchema#integer>', None)],
        "subj string, pred string, obj string, ctx string",
    )
    assert sparql_query(g3, "SELECT ?s WHERE { ?s <urn:p> ?o FILTER(?o) }").count() == 1


def test_exists_with_unbound_var_matches(spark):
    """EXISTS over a pattern using an unbound var: the var stays free, so
    the pattern is satisfiable -> row kept (NOT EXISTS: dropped)."""
    from halyard_spark import nt
    from halyard_spark.query.sparql import sparql_query

    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", "<urn:o1>", None),
         ("<urn:x1>", "<urn:r>", nt.lit("y"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    q = """SELECT ?s WHERE { ?s <urn:p> ?o OPTIONAL { ?s <urn:q> ?x }
                             FILTER EXISTS { ?x <urn:r> ?y } }"""
    assert [r["s"] for r in sparql_query(g, q).collect()] == ["<urn:a>"]
    qn = """SELECT ?s WHERE { ?s <urn:p> ?o OPTIONAL { ?s <urn:q> ?x }
                              FILTER NOT EXISTS { ?x <urn:r> ?y } }"""
    assert sparql_query(g, qn).count() == 0


def test_order_by_unbound_first(spark):
    """SPARQL 15.1: unbound sorts before every RDF term."""
    from halyard_spark import nt
    from halyard_spark.query.sparql import sparql_query

    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", "<urn:iri>", None),
         ("<urn:b>", "<urn:p>", nt.lit("lit"), None),
         ("<urn:c>", "<urn:q>", nt.lit("x"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    out = sparql_query(g, """
        SELECT ?s ?o WHERE { { ?s <urn:p> ?o } UNION { ?s <urn:q> ?z } }
        ORDER BY ?o""")
    objs = [r["o"] for r in out.collect()]
    assert objs[0] is None  # unbound first
    assert objs[1:] == ["<urn:iri>", '"lit"']


def test_minus_right_side_unbound_compatible(spark):
    """A NULL produced on the RIGHT side of MINUS (nested OPTIONAL) is
    unbound: compatibility ignores it, the left row must be removed."""
    from halyard_spark import nt
    from halyard_spark.query.sparql import sparql_query

    g = spark.createDataFrame(
        [("<urn:a>", "<urn:name>", nt.lit("Ann"), None),
         ("<urn:b>", "<urn:name>", nt.lit("Ben"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    out = sparql_query(g, """
        SELECT ?s ?n WHERE {
          ?s <urn:name> ?n
          MINUS { <urn:a> <urn:name> ?n OPTIONAL { ?s <urn:zzz> ?n } }
        }""")
    # right solutions: (n="Ann", s unbound) -> removes a's row only
    assert [r["s"] for r in out.collect()] == ["<urn:b>"]


def test_repeated_var_statement_pattern(spark):
    from halyard_spark.query.pattern import statement_pattern

    g = spark.createDataFrame(
        [("<a>", "<knows>", "<a>", None), ("<a>", "<knows>", "<b>", None)],
        "subj string, pred string, obj string, ctx string",
    )
    out = statement_pattern(g, p="<knows>", vars={"subj": "x", "obj": "x"})
    assert out.columns == ["x"]
    assert [r["x"] for r in out.collect()] == ["<a>"]


def test_nt_unescape_numeric_python():
    from halyard_spark import nt

    assert nt.unescape("caf\\u00e9") == "café"
    assert nt.unescape("\\U0001F600") == "😀"
    assert nt.unescape("bad\\uZZZZ") == "baduZZZZ"  # malformed: literal fallback


def test_bnode_distinct_per_solution_stable_within(spark):
    """BNODE(label): same label -> same bnode WITHIN one solution
    mapping, DISTINCT bnodes across different solutions (SPARQL
    17.4.2.9); zero-arg BNODE() likewise differs per solution.  Seeding
    from the whole binding tuple keeps cross-evaluation stability
    (HalyardValueExprEvaluation.java:234-246)."""
    from halyard_spark.query.sparql import sparql_query

    df = spark.createDataFrame(
        [
            ("<urn:a>", "<urn:p>", '"1"', None),
            ("<urn:b>", "<urn:p>", '"2"', None),
        ],
        "subj string, pred string, obj string, ctx string",
    )
    q = (
        "SELECT ?s (BNODE('k') AS ?b1) (BNODE('k') AS ?b2) "
        "(BNODE() AS ?b3) WHERE { ?s <urn:p> ?o }"
    )
    r = {x.s: (x.b1, x.b2, x.b3) for x in sparql_query(df, q).collect()}
    assert all(v[0] == v[1] for v in r.values())  # same label, same solution
    assert r["<urn:a>"][0] != r["<urn:b>"][0]  # distinct solutions differ
    assert r["<urn:a>"][2] != r["<urn:b>"][2]  # zero-arg differs too
    assert {x.s: (x.b1, x.b2, x.b3) for x in sparql_query(df, q).collect()} == r


# one row holding each term shape a builtin argument can take; a
# variable with no column ("unbound") is the seventh shape
_SHAPES = {
    "iri": "<urn:a>",
    "bnode": "_:b1",
    "simple": '"abc"',
    "tagged": '"chat"@fr',
    "integer": nt.lit("7", dtype=nt.XSD + "integer"),
    "datetime": nt.lit("2011-01-10T14:45:13-05:00", dtype=nt.XSD + "dateTime"),
}
_KIND_TYPES = {"term": {"string"}, "str": {"string"}, "bool": {"boolean"},
               "num": {"int", "bigint", "double"}}


@pytest.mark.parametrize("name", sorted(_BUILTINS))
def test_builtin_table_is_total(spark, name):
    """Every builtin table key, at its fewest and its most arguments
    (three past the fewest for a variadic one), evaluates over every
    term shape without raising, and its column has the Spark type of
    the row's declared result kind."""
    fn = _BUILTINS[name]
    frame = spark.createDataFrame([tuple(_SHAPES.values())], ", ".join(f"{k} string" for k in _SHAPES))
    planner = _Planner(frame, _Parser(tokenize("SELECT * {}"), base="http://example.org/"))
    cols, kinds = [], []
    for n in sorted({fn.lo, min(fn.hi, fn.lo + 3)}):
        for shape in [*_SHAPES, "unbound"] if n else [None]:
            col, kind = planner.eval_call(name, [("var", shape)] * n, frame)
            declared = fn.kind(["term"] * n) if callable(fn.kind) else fn.kind
            assert kind == declared
            cols.append(col.alias(f"c{len(cols)}"))
            kinds.append(kind)
    out = frame.select(*cols)
    for field, kind in zip(out.schema.fields, kinds):
        assert field.dataType.simpleString() in _KIND_TYPES[kind], (field, kind)
    assert len(out.collect()) == 1


def test_native_columns_take_their_spark_type_as_kind(spark):
    """An aggregate or BIND column keeps its Spark type, and an
    expression over it takes its kind from that type: ORDER BY sorts the
    number natively, isLiteral / isNumeric / DATATYPE see a typed
    literal, SAMPLE keeps the number, and FILTER reads a boolean BIND as
    its value (before, a bigint ?n was read as a term string: isLiteral
    was false, DATATYPE was xsd:string and FILTER(?b) dropped every
    row)."""
    from halyard_spark.endpoint import results_json
    from halyard_spark.query.sparql import sparql_query

    rows = [(f"<urn:s{i}>", "<urn:p>", f"<urn:o{k}>", None)
            for k, n in enumerate((10, 9, 2)) for i in range(n)]
    store = spark.createDataFrame(rows, "subj string, pred string, obj string, ctx string")
    counts = "{ SELECT ?o (COUNT(?s) AS ?n) WHERE { ?s <urn:p> ?o } GROUP BY ?o }"
    q = (f"SELECT ?n ?lit ?num ?iri ?dt WHERE {{ {counts} "
         "BIND(isLiteral(?n) AS ?lit) BIND(isNumeric(?n) AS ?num) BIND(isIRI(?n) AS ?iri) "
         "BIND(DATATYPE(?n) AS ?dt) } ORDER BY DESC(?n)")
    got = [tuple(r) for r in sparql_query(store, q).collect()]
    xsd_integer = "http://www.w3.org/2001/XMLSchema#integer"
    assert got == [(n, True, True, False, xsd_integer) for n in (10, 9, 2)]
    q = f"SELECT (SAMPLE(?n) AS ?m) WHERE {{ {counts} FILTER(?n = 9) }}"
    (binding,) = results_json(sparql_query(store, q))["results"]["bindings"]
    assert binding["m"] == {"type": "literal", "value": "9", "datatype": xsd_integer}
    q = f"SELECT ?o WHERE {{ {counts} BIND(?n > 5 AS ?big) FILTER(?big) }}"
    assert sorted(r.o for r in sparql_query(store, q).collect()) == ["<urn:o0>", "<urn:o1>"]
    q = 'SELECT ?l ?k WHERE { BIND(isLiteral(STRLEN("ab")) AS ?l) BIND(isNumeric(STRLEN("ab")) AS ?k) }'
    assert [tuple(r) for r in sparql_query(store, q).collect()] == [(True, True)]
