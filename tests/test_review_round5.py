"""Regression tests for the round-5 self-review findings (10 defects
found reviewing c85f089..HEAD).  Each test pins the spec-correct
behavior the review showed was violated; turtle resync rollback is
covered in test_turtle.py and the double-checkpoint fix is plan-level
(covered by the existing path_ops correctness suite).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from halyard_spark import nt
from halyard_spark.query.sparql import sparql_query

EX = "http://example.org/"
PREFIXES = f"PREFIX ex: <{EX}>\n"


def iri(x):
    return nt.iri(EX + x)


def _store(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, ctx string"
    )


# -- #3: CONSTRUCT solution modifiers -----------------------------------


def test_construct_limit_applies_to_solutions_not_triples(spark):
    """§16.2: ORDER BY/LIMIT/OFFSET select SOLUTIONS; the template then
    instantiates once per selected solution.  LIMIT 2 over a 2-pattern
    template must yield 4 triples from the first 2 solutions, not 2
    triples."""
    store = _store(spark, [
        (iri("s1"), iri("p"), nt.lit("1", dtype=nt.XSD + "integer"), None),
        (iri("s2"), iri("p"), nt.lit("2", dtype=nt.XSD + "integer"), None),
        (iri("s3"), iri("p"), nt.lit("3", dtype=nt.XSD + "integer"), None),
    ])
    out = sparql_query(store, PREFIXES + """
        CONSTRUCT { ?s ex:a ?o . ?s ex:b ?o }
        WHERE { ?s ex:p ?o } ORDER BY ?o LIMIT 2""")
    got = {tuple(r) for r in out.collect()}
    assert len(got) == 4  # 2 solutions x 2 template patterns
    subjects = {s for s, _, _ in got}
    assert subjects == {iri("s1"), iri("s2")}  # ORDER BY ?o picked 1,2


def test_construct_offset_orders_solutions(spark):
    store = _store(spark, [
        (iri("s1"), iri("p"), nt.lit("1", dtype=nt.XSD + "integer"), None),
        (iri("s2"), iri("p"), nt.lit("2", dtype=nt.XSD + "integer"), None),
        (iri("s3"), iri("p"), nt.lit("3", dtype=nt.XSD + "integer"), None),
    ])
    out = sparql_query(store, PREFIXES + """
        CONSTRUCT { ?s ex:a ?o }
        WHERE { ?s ex:p ?o } ORDER BY DESC(?o) OFFSET 1 LIMIT 1""")
    got = [tuple(r) for r in out.collect()]
    assert got == [(iri("s2"), iri("a"), nt.lit("2", dtype=nt.XSD + "integer"))]


# -- #4: DATATYPE over numeric-kind expressions --------------------------


def test_datatype_of_numeric_expression(spark):
    store = _store(spark, [
        (iri("s1"), iri("p"), nt.lit("4", dtype=nt.XSD + "integer"), None),
    ])
    out = sparql_query(store, PREFIXES + """
        SELECT (DATATYPE(?v + 1) AS ?d) (DATATYPE(?v + 0.25) AS ?e)
        WHERE { ?s ex:p ?v }""")
    row = out.collect()[0]
    # engine convention: DATATYPE projects the bare IRI string (same as
    # the existing test_term_introspection_functions expectation)
    assert row["d"] == nt.XSD + "integer"
    assert row["e"] == nt.XSD + "double"


# -- #8: CONCAT non-string-literal argument is a type error --------------


def test_concat_iri_argument_is_type_error(spark):
    store = _store(spark, [
        (iri("s1"), iri("p"), nt.lit("x"), None),
    ])
    out = sparql_query(store, PREFIXES + """
        SELECT (CONCAT(?s, "x") AS ?bad) (CONCAT(?o, "y") AS ?ok)
        WHERE { ?s ex:p ?o }""")
    row = out.collect()[0]
    assert row["bad"] is None  # IRI arg -> §17.4.3 type error -> unbound
    assert row["ok"] == "xy"


def test_concat_typed_literal_argument_is_type_error(spark):
    store = _store(spark, [
        (iri("s1"), iri("p"), nt.lit("4", dtype=nt.XSD + "integer"), None),
    ])
    out = sparql_query(store, PREFIXES + """
        SELECT (CONCAT(?o, "y") AS ?bad) WHERE { ?s ex:p ?o }""")
    assert out.collect()[0]["bad"] is None


# -- #5: aliased @list value under an @container:@list term --------------


def test_jsonld_aliased_list_value_not_double_wrapped(spark):
    from halyard_spark.sources.jsonld import jsonld_to_rows

    doc = (
        '{"@context": {"list": "@list",'
        ' "p": {"@id": "urn:p", "@container": "@list"}},'
        ' "@id": "urn:s", "p": {"list": ["a", "b"]}}'
    )
    rows = jsonld_to_rows(doc, scope="t")
    firsts = [o for s, p, o, c in rows if p == nt.iri(nt.RDF + "first")]
    # a FLAT 2-element list: rdf:first values are the literals themselves,
    # never a nested list-head bnode
    assert sorted(firsts) == [nt.lit("a"), nt.lit("b")]
    rests = [o for s, p, o, c in rows if p == nt.iri(nt.RDF + "rest")]
    assert nt.iri(nt.RDF + "nil") in rests and len(rests) == 2


# -- #7: duplicate ND-JSON-LD lines are distinct documents ---------------


def test_ndjsonld_duplicate_anonymous_lines_stay_distinct(spark):
    from halyard_spark.sources.rio import ndjsonld_to_triples

    line = '{"@context": {"name": "urn:p:name"}, "name": "x"}'
    df = spark.createDataFrame([(line,), (line,)], "value string")
    got = [tuple(r) for r in ndjsonld_to_triples(df).collect()]
    assert len(got) == 2
    subjects = {s for s, _, _, _ in got}
    # fresh-parser-per-line semantics: two distinct anonymous entities
    assert len(subjects) == 2 and all(s.startswith("_:") for s in subjects)
    # still deterministic: same input at another parallelism -> same labels
    again = {tuple(r) for r in ndjsonld_to_triples(df.repartition(4)).collect()}
    assert again == set(got)


def test_ndjsonld_single_occurrence_scope_unchanged(spark):
    """occ==0 keeps scope == line text, so pre-fix skolem labels for
    non-duplicated corpora are preserved (stable across releases)."""
    from halyard_spark.sources.jsonld import jsonld_to_rows
    from halyard_spark.sources.rio import ndjsonld_to_triples

    line = '{"@context": {"name": "urn:p:name"}, "name": "solo"}'
    df = spark.createDataFrame([(line,)], "value string")
    got = {tuple(r) for r in ndjsonld_to_triples(df).collect()}
    direct = {(s, p, o, c) for s, p, o, c in jsonld_to_rows(line, scope=line)}
    assert got == direct


# -- #10: TriX graph name element after the first <triple> ---------------


def test_trix_graph_name_after_triples_honored(spark):
    from halyard_spark.sources.trix import TRIX_NS, parse_trix

    doc = f"""<TriX xmlns="{TRIX_NS}">
      <graph>
        <triple><uri>urn:s</uri><uri>urn:p</uri><uri>urn:o</uri></triple>
        <uri>urn:g</uri>
      </graph>
    </TriX>"""
    quads = parse_trix(doc)
    assert quads == [("<urn:s>", "<urn:p>", "<urn:o>", "<urn:g>")]


# -- #2: shuffle-width conf restored after load/pipeline ------------------


def test_bulk_load_restores_shuffle_width(spark, tmp_path):
    from halyard_spark.pipeline import rdfload

    (tmp_path / "a.nt").write_text(
        '<urn:s> <urn:p> "o" .\n'
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    rdfload.bulk_load_rdf(spark, str(tmp_path / "a.nt"), str(tmp_path / "kg"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_run_pipeline_restores_shuffle_width(spark, tmp_path):
    from halyard_spark.pipeline import run

    src = spark.createDataFrame(
        [("r1", "f.py", "c1", "python", "import os\n")],
        "repo string, path string, commit string, lang string, content string",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    run.run_pipeline(spark, src, str(tmp_path / "out"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


# -- #6: BFS closure converges without a hop budget; max_length is a cap --


def test_reachable_from_converges_and_caps(spark):
    from test_path_ops import brute_closure

    from halyard_spark.query.path import reachable_from

    n = 40  # past one 32-hop fused round
    chain = [(f"n{i}", f"n{i+1}") for i in range(n - 1)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    seeds = spark.createDataFrame([("n0",)], "src string")
    # default: run to convergence — the full chain, no silent truncation
    full = reachable_from(edges, seeds, min_length=1)
    assert sorted(tuple(r) for r in full.collect()) == [
        p for p in brute_closure(chain) if p[0] == "n0"
    ]
    # max_length is an intentional path-length cap (p? semantics)
    capped = reachable_from(edges, seeds, min_length=0, max_length=1)
    assert {r["dst"] for r in capped.collect()} == {"n0", "n1"}
    three = reachable_from(edges, seeds, min_length=1, max_length=3)
    assert {r["dst"] for r in three.collect()} == {"n1", "n2", "n3"}
