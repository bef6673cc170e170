"""Turtle / TriG source (sources/turtle.py).

Reference: RIO format dispatch tools/.../HalyardBulkLoad.java:251-259.
Golden fixtures: tests/fixtures/rio/*.ttl, written for this suite from
the Turtle 1.1 grammar (a catalogue using every construct, plus JSON
documents rendered as RDF), parsed strictly with pinned triple counts.
"""

from __future__ import annotations

import glob
import gzip
import json
import os

import pytest

from halyard_spark import nt
from halyard_spark.sources.rio import ntriples_to_triples, read_rdf
from halyard_spark.sources.turtle import parse_turtle, tokenize

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "rio") + os.sep

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def spo(quads):
    return sorted((s, p, o) for s, p, o, _ in quads)


# ------------------------------------------------------------ grammar units


def test_prefixes_a_and_lists():
    quads = parse_turtle(
        """@prefix ex: <http://ex.org/> .
        ex:s a ex:T ; ex:p ex:o1 , ex:o2 ; ex:q "v" .""",
        dirty_ok=False,
    )
    assert spo(quads) == sorted(
        [
            ("<http://ex.org/s>", f"<{RDF}type>", "<http://ex.org/T>"),
            ("<http://ex.org/s>", "<http://ex.org/p>", "<http://ex.org/o1>"),
            ("<http://ex.org/s>", "<http://ex.org/p>", "<http://ex.org/o2>"),
            ("<http://ex.org/s>", "<http://ex.org/q>", '"v"'),
        ]
    )


def test_sparql_style_prefix_and_base():
    quads = parse_turtle(
        """PREFIX ex: <http://ex.org/>
        BASE <http://base.org/dir/>
        ex:s ex:p <rel> .""",
        dirty_ok=False,
    )
    assert quads == [
        ("<http://ex.org/s>", "<http://ex.org/p>", "<http://base.org/dir/rel>", None)
    ]


def test_literal_forms():
    quads = parse_turtle(
        """@prefix ex: <http://ex.org/> .
        ex:s ex:p "plain" , "tagged"@en-US , "typed"^^ex:dt ,
             42 , -1.5 , 2.5E3 , true ,
             '''long
string''' , "esc\\"q\\u00e9" .""",
        dirty_ok=False,
    )
    objs = {o for _, _, o, _ in quads}
    assert objs == {
        '"plain"',
        '"tagged"@en-US',
        '"typed"^^<http://ex.org/dt>',
        f'"42"^^<{XSD}integer>',
        f'"-1.5"^^<{XSD}decimal>',
        f'"2.5E3"^^<{XSD}double>',
        f'"true"^^<{XSD}boolean>',
        '"long\\nstring"',
        '"esc\\"qé"',
    }


def test_integer_then_statement_dot():
    # `5.` is integer five + statement terminator, not a decimal
    quads = parse_turtle(
        "@prefix ex: <http://ex.org/> .\nex:s ex:p 5.", dirty_ok=False
    )
    assert quads[0][2] == f'"5"^^<{XSD}integer>'


def test_pn_local_dots_and_colons():
    # the reference fixtures use locals like `batters.batter:index` and `::Node`
    quads = parse_turtle(
        """@prefix : <http://t/> .
        :a.b:c a ::Node ; :x.y 1 .""",
        dirty_ok=False,
    )
    assert spo(quads) == sorted(
        [
            ("<http://t/a.b:c>", f"<{RDF}type>", "<http://t/:Node>"),
            ("<http://t/a.b:c>", "<http://t/x.y>", f'"1"^^<{XSD}integer>'),
        ]
    )


def test_bnode_property_list_and_labels():
    quads = parse_turtle(
        """@prefix ex: <http://ex.org/> .
        ex:s ex:p [ ex:q "inner" ] .
        _:x ex:r _:x .""",
        bnode_scope="t",
        dirty_ok=False,
    )
    inner = [q for q in quads if q[2] == '"inner"'][0]
    assert inner[0].startswith("_:ta")  # fresh anonymous node
    outer = [q for q in quads if q[1] == "<http://ex.org/p>"][0]
    assert outer[2] == inner[0]
    labeled = [q for q in quads if q[1] == "<http://ex.org/r>"][0]
    assert labeled[0] == labeled[2] == "_:t_x"  # label scoped + stable


def test_collection_first_rest_chain():
    quads = parse_turtle(
        """@prefix ex: <http://ex.org/> .
        ex:s ex:p ( "a" "b" ) .
        ex:t ex:q () .""",
        dirty_ok=False,
    )
    firsts = [q for q in quads if q[1] == f"<{RDF}first>"]
    rests = [q for q in quads if q[1] == f"<{RDF}rest>"]
    assert [o for _, _, o, _ in firsts] == ['"a"', '"b"']
    assert rests[0][2] == rests[1][0]  # chain links
    assert rests[1][2] == f"<{RDF}nil>"
    empty = [q for q in quads if q[1] == "<http://ex.org/q>"][0]
    assert empty[2] == f"<{RDF}nil>"


def test_trig_graph_blocks():
    quads = parse_turtle(
        """@prefix ex: <http://ex.org/> .
        ex:d ex:p "default" .
        GRAPH ex:g1 { ex:a ex:p "in-g1" . }
        ex:g2 { ex:b ex:p "in-g2" }
        { ex:c ex:p "braced-default" }""",
        dirty_ok=False,
    )
    by_obj = {o: c for _, _, o, c in quads}
    assert by_obj['"default"'] is None
    assert by_obj['"in-g1"'] == "<http://ex.org/g1>"
    assert by_obj['"in-g2"'] == "<http://ex.org/g2>"
    assert by_obj['"braced-default"'] is None


def test_dirty_statement_resync():
    quads = parse_turtle(
        """@prefix ex: <http://ex.org/> .
        ex:good1 ex:p "ok1" .
        ex:broken ex:p ]] %% .
        ex:undeclared undeclared:p "dropped" .
        ex:good2 ex:p "ok2" .""",
    )
    objs = {o for _, _, o, _ in quads}
    assert objs == {'"ok1"', '"ok2"'}


def test_dirty_off_raises():
    with pytest.raises(ValueError):
        parse_turtle("ex:undeclared ex:p 1 .", dirty_ok=False)


def test_comments_ignored():
    quads = parse_turtle(
        """# leading comment
        @prefix ex: <http://ex.org/> . # trailing
        ex:s ex:p "v" . # done""",
        dirty_ok=False,
    )
    assert len(quads) == 1


# ----------------------------------------------------------- fixture goldens


@pytest.mark.parametrize(
    "name,count",
    [
        ("example.ttl", 108),
        ("efo_test.ttl", 43),
        ("nestedArrays.ttl", 35),
        ("primitives.ttl", 37),
        ("rootArray.ttl", 12),
        ("empty.ttl", 1),
        ("emptyObj.ttl", 3),
    ],
)
def test_reference_fixture_parses_strict(name, count):
    """Every .ttl golden parses with dirty tolerance OFF and yields a
    stable triple count."""
    text = open(FIXTURES + name).read()
    quads = parse_turtle(text, dirty_ok=False)
    assert len(quads) == count
    for s, p, o, _ in quads:  # every term is valid N-Triples lexical form
        nt.parse_term(s), nt.parse_term(p), nt.parse_term(o)


def test_efo_fixture_values():
    quads = parse_turtle(open(FIXTURES + "efo_test.ttl").read(), dirty_ok=False)
    got = {
        (s, o)
        for s, p, o, _ in quads
        if p == "<http://www.w3.org/2000/01/rdf-schema#label>"
    }
    assert ("<http://example.org/efo/F0008>", '"So-Eum"@en') in got
    assert ("<http://example.org/efo/F0006>", '"mouse strain"@en-gb') in got
    assert (
        "<http://example.org/efo/F0009>",
        '"economic and social preference"',
    ) in got


# -------------------------------------------------------- Spark-side source


def test_read_turtle_and_nt_roundtrip(spark, tmp_path):
    """ttl -> quads -> N-Triples text -> NT source: identical triple set
    (the two sources agree on lexical form)."""
    text = open(FIXTURES + "efo_test.ttl").read()
    f = tmp_path / "efo.ttl"
    f.write_text(text)
    df = read_rdf(spark, str(f), fmt="turtle")
    got = {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}
    assert len(got) == 43

    ntext = "\n".join(f"{s} {p} {o} ." for s, p, o in sorted(got))
    lines = spark.createDataFrame([(l,) for l in ntext.split("\n")], "value string")
    back = {
        (r["subj"], r["pred"], r["obj"])
        for r in ntriples_to_triples(lines).collect()
    }
    assert back == got


def test_read_turtle_gz_and_dispatch(spark, tmp_path):
    raw = open(FIXTURES + "example.ttl", "rb").read()
    f = tmp_path / "example.ttl.gz"
    f.write_bytes(gzip.compress(raw))
    df = read_rdf(spark, str(f))  # extension dispatch strips the codec
    assert df.count() == 108


def test_bnode_scope_distinct_across_files(spark, tmp_path):
    for i in (1, 2):
        (tmp_path / f"f{i}.ttl").write_text(
            "@prefix ex: <http://ex.org/> .\n_:x ex:p \"v\" ."
        )
    df = read_rdf(spark, str(tmp_path) + "/*.ttl", fmt="turtle")
    subs = {r["subj"] for r in df.collect()}
    assert len(subs) == 2  # _:x in two files must not collide


def test_sparql_load_turtle(spark, tmp_path):
    """LOAD <file.ttl> INTO GRAPH routes through the format dispatcher."""
    from halyard_spark.query.sparql import sparql_query, sparql_update

    f = tmp_path / "data.ttl"
    f.write_text(
        """@prefix ex: <http://ex.org/> .
        ex:a ex:name "Ann" ; ex:age 30 ."""
    )
    empty = spark.createDataFrame([], "subj string, pred string, obj string, ctx string")
    store = sparql_update(empty, f"LOAD <file://{f}> INTO GRAPH <http://g/>")
    out = sparql_query(
        store,
        "SELECT ?o WHERE { GRAPH <http://g/> { <http://ex.org/a> <http://ex.org/name> ?o } }",
    )
    assert [r["o"] for r in out.collect()] == ['"Ann"']


def test_cross_parser_golden_json_vs_ttl(spark):
    """nestedArrays.ttl is nestedArrays.json rendered as RDF.  The
    schema-driven json_to_triples would name its nodes differently, but
    the Turtle side must cover every leaf VALUE the JSON holds: a
    cross-format content check."""
    quads = parse_turtle(open(FIXTURES + "nestedArrays.ttl").read(), dirty_ok=False)
    lits = {o for _, _, o, _ in quads if o.startswith('"')}

    def leaves(v):
        if isinstance(v, dict):
            v = list(v.values())
        if isinstance(v, list):
            return [x for e in v for x in leaves(e)]
        return [v]

    values = leaves(json.load(open(FIXTURES + "nestedArrays.json")))
    assert len(values) == 10
    for v in values:
        assert nt.lit(v) in lits


# ------------------------------------------------------------ fuzz gates

from hypothesis import given, settings
from hypothesis import strategies as st


@given(st.text(max_size=300))
@settings(max_examples=300, deadline=None)
def test_turtle_dirty_mode_total(garbage):
    """With dirty tolerance ON (the bulk-load default), ANY input yields
    a (possibly empty) quad list — never an unhandled exception, never a
    hang (HalyardBulkLoad skip-invalid semantics)."""
    quads = parse_turtle(garbage)
    assert isinstance(quads, list)


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_turtle_strict_mode_fails_closed(garbage):
    """Strict mode: parse or ValueError — no other failure mode."""
    try:
        parse_turtle(garbage, dirty_ok=False)
    except ValueError:
        pass


_NAME = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,8}", fullmatch=True)


@given(
    s=_NAME, p=_NAME,
    label=st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40),
    lang=st.sampled_from([None, "en", "en-US", "zh"]),
)
@settings(max_examples=200, deadline=None)
def test_turtle_literal_roundtrip(s, p, label, lang):
    """Any literal serialized as Turtle parses back to the exact same
    N-Triples term (escaping round-trip through the two codecs)."""
    term = nt.lit(label, lang=lang)
    doc = f"@prefix ex: <http://e/> .\nex:{s} ex:{p} {term} ."
    quads = parse_turtle(doc, dirty_ok=False)
    assert quads == [(f"<http://e/{s}>", f"<http://e/{p}>", term, None)]


def test_dirty_resync_inside_graph_block_keeps_ctx():
    """A malformed statement inside a TriG graph block must not leak the
    remaining statements into the default graph (code-review regression):
    recovery happens WITHIN the block, preserving ctx."""
    quads = parse_turtle(
        """@prefix p: <urn:p:> .
        GRAPH p:g { p:s p:o p:x . ??? ??? . p:s2 p:o p:y . }
        p:after p:o p:z ."""
    )
    by_subj = {s: c for s, _, _, c in quads}
    assert by_subj["<urn:p:s>"] == "<urn:p:g>"
    assert by_subj["<urn:p:s2>"] == "<urn:p:g>"  # stayed in the graph
    assert by_subj["<urn:p:after>"] is None


def test_dirty_resync_skips_whole_bad_block():
    """A failure at the block header skips the whole block, not into it."""
    quads = parse_turtle(
        """@prefix p: <urn:p:> .
        GRAPH 42 { p:s p:o p:x . }
        p:after p:o p:z ."""
    )
    assert [(s, c) for s, _, _, c in quads] == [("<urn:p:after>", None)]


def test_dirty_resync_no_overshoot_past_consumed_terminator():
    """A parse error raised only AFTER the failed statement consumed its
    own '.' terminator (missing object) must not eat the NEXT valid
    statement while hunting for another '.' (code-review regression:
    resync rescans from the statement's first token)."""
    quads = parse_turtle("<urn:a> <urn:p> . <urn:b> <urn:p> <urn:c> .")
    assert quads == [("<urn:b>", "<urn:p>", "<urn:c>", None)]
    # same inside a TriG graph block
    quads = parse_turtle("<urn:g> { <urn:a> <urn:p> . <urn:b> <urn:p> <urn:c> . }")
    assert quads == [("<urn:b>", "<urn:p>", "<urn:c>", "<urn:g>")]


def test_dirty_truncated_statement_fabricates_nothing():
    """ADVICE repro: a truncated statement must not fabricate a triple
    from the next statement's subject; everything up to the next '.' is
    dropped whole (RDF4J skip-invalid semantics)."""
    quads = parse_turtle(
        "@prefix ex: <urn:ex/> .\nex:bad ex:p\n# comment\nex:c ex:d ex:e ."
    )
    assert ("<urn:ex/bad>", "<urn:ex/p>", "<urn:ex/c>", None) not in quads
    quads2 = parse_turtle(". <urn:b> <urn:p> <urn:c> .")
    assert quads2 == [("<urn:b>", "<urn:p>", "<urn:c>", None)]


def test_uchar_escapes_in_iri_and_literal():
    """\\uXXXX / \\UXXXXXXXX are legal INSIDE IRIREF per the Turtle
    grammar (UCHAR member) — the tokenizer must accept them and the
    parser decode them to code points (RDF4J's Rio does both)."""
    from halyard_spark.sources.turtle import parse_turtle

    got = parse_turtle('<urn:s\\u0041> <urn:p> "caf\\u00e9" .')
    assert got == [("<urn:sA>", "<urn:p>", '"café"', None)]
    got = parse_turtle('<urn:s\\U00000041> <urn:p> "x" .')
    assert got == [("<urn:sA>", "<urn:p>", '"x"', None)]
    # a non-UCHAR backslash escape keeps the IRI token illegal -> skip
    assert parse_turtle('<urn:s\\x41> <urn:p> "x" .') == []
