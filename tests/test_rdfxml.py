"""RDF/XML source (sources/rdfxml.py).

Reference: RIO extension map routes .rdf/.owl/.xml to the Rio RDF/XML
parser (tools/.../HalyardBulkLoad.java:251-259)."""

from __future__ import annotations

import pytest

from halyard_spark.sources.rdfxml import RDF, parse_rdfxml
from halyard_spark.sources.rio import read_rdf

XSD = "http://www.w3.org/2001/XMLSchema#"


def spo(quads):
    return sorted((s, p, o) for s, p, o, _ in quads)


DOC = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://ex.org/" xml:base="http://base.org/">
  <rdf:Description rdf:about="http://ex.org/alice">
    <ex:name xml:lang="en">Alice</ex:name>
    <ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">30</ex:age>
    <ex:knows rdf:resource="http://ex.org/bob"/>
  </rdf:Description>
  <ex:Person rdf:about="http://ex.org/bob" ex:nick="Bobby">
    <ex:addr rdf:parseType="Resource">
      <ex:city>Springfield</ex:city>
    </ex:addr>
  </ex:Person>
  <rdf:Description rdf:ID="frag">
    <ex:rel rdf:nodeID="z"/>
  </rdf:Description>
  <rdf:Description rdf:nodeID="z">
    <ex:tag>ztag</ex:tag>
  </rdf:Description>
</rdf:RDF>"""


def test_basic_node_and_property_forms():
    quads = parse_rdfxml(DOC, bnode_scope="t")
    rows = spo(quads)
    a = "<http://ex.org/alice>"
    assert (a, "<http://ex.org/name>", '"Alice"@en') in rows
    assert (a, "<http://ex.org/age>", f'"30"^^<{XSD}integer>') in rows
    assert (a, "<http://ex.org/knows>", "<http://ex.org/bob>") in rows
    # typed node element -> rdf:type + property attribute
    b = "<http://ex.org/bob>"
    assert (b, f"<{RDF}type>", "<http://ex.org/Person>") in rows
    assert (b, "<http://ex.org/nick>", '"Bobby"') in rows
    # parseType=Resource inner node
    addr = [o for s, p, o in rows if p == "<http://ex.org/addr>"][0]
    assert addr.startswith("_:t")
    assert (addr, "<http://ex.org/city>", '"Springfield"') in rows
    # rdf:ID resolves against xml:base; rdf:nodeID is stable across elements
    frag = "<http://base.org/#frag>"
    z = [o for s, p, o in rows if s == frag][0]
    assert (z, "<http://ex.org/tag>", '"ztag"') in rows


def test_collection_and_li():
    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                      xmlns:ex="http://ex.org/">
      <rdf:Description rdf:about="http://ex.org/s">
        <ex:list rdf:parseType="Collection">
          <rdf:Description rdf:about="http://ex.org/i1"/>
          <rdf:Description rdf:about="http://ex.org/i2"/>
        </ex:list>
      </rdf:Description>
      <rdf:Description rdf:about="http://ex.org/bag">
        <rdf:li>one</rdf:li>
        <rdf:li>two</rdf:li>
      </rdf:Description>
    </rdf:RDF>"""
    rows = spo(parse_rdfxml(doc))
    firsts = [(s, o) for s, p, o in rows if p == f"<{RDF}first>"]
    rests = {s: o for s, p, o in rows if p == f"<{RDF}rest>"}
    assert [o for _, o in firsts] == ["<http://ex.org/i1>", "<http://ex.org/i2>"]
    head = [o for s, p, o in rows if p == "<http://ex.org/list>"][0]
    assert rests[head] == firsts[1][0]
    assert rests[firsts[1][0]] == f"<{RDF}nil>"
    # rdf:li auto-numbering
    assert ("<http://ex.org/bag>", f"<{RDF}_1>", '"one"') in rows
    assert ("<http://ex.org/bag>", f"<{RDF}_2>", '"two"') in rows


def test_parse_type_literal():
    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                      xmlns:ex="http://ex.org/">
      <rdf:Description rdf:about="http://ex.org/s">
        <ex:markup rdf:parseType="Literal">pre<b>bold</b></ex:markup>
      </rdf:Description>
    </rdf:RDF>"""
    rows = spo(parse_rdfxml(doc))
    obj = [o for _, p, o in rows if p == "<http://ex.org/markup>"][0]
    assert obj.endswith(f"^^<{RDF}XMLLiteral>")
    assert "pre" in obj and "bold" in obj


def test_nested_node_element():
    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                      xmlns:ex="http://ex.org/">
      <rdf:Description rdf:about="http://ex.org/s">
        <ex:child>
          <ex:Thing rdf:about="http://ex.org/t"><ex:v>1</ex:v></ex:Thing>
        </ex:child>
      </rdf:Description>
    </rdf:RDF>"""
    rows = spo(parse_rdfxml(doc))
    assert ("<http://ex.org/s>", "<http://ex.org/child>", "<http://ex.org/t>") in rows
    assert ("<http://ex.org/t>", f"<{RDF}type>", "<http://ex.org/Thing>") in rows
    assert ("<http://ex.org/t>", "<http://ex.org/v>", '"1"') in rows


def test_invalid_xml_skipped(spark, tmp_path):
    (tmp_path / "good.rdf").write_text(DOC)
    (tmp_path / "bad.rdf").write_text("<rdf:RDF this is not xml")
    df = read_rdf(spark, str(tmp_path) + "/*.rdf", fmt="rdfxml")
    assert df.count() == len(parse_rdfxml(DOC))  # bad file contributes 0


def test_read_rdf_dispatch_owl(spark, tmp_path):
    f = tmp_path / "onto.owl"
    f.write_text(DOC)
    assert read_rdf(spark, str(f)).count() == len(parse_rdfxml(DOC))


def test_bnode_scope_across_files(spark, tmp_path):
    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                      xmlns:ex="http://ex.org/">
      <rdf:Description rdf:nodeID="x"><ex:p>v</ex:p></rdf:Description>
    </rdf:RDF>"""
    for i in (1, 2):
        (tmp_path / f"f{i}.rdf").write_text(doc)
    df = read_rdf(spark, str(tmp_path) + "/*.rdf", fmt="rdfxml")
    assert len({r["subj"] for r in df.collect()}) == 2


def test_rdf_type_property_attribute_is_resource():
    """rdf:type as a property ATTRIBUTE takes a resource value
    (RDF/XML 2.13), not a string literal (code-review regression)."""
    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                      xmlns:ex="http://ex.org/">
      <rdf:Description rdf:about="urn:s" rdf:type="http://ex.org/T"/>
    </rdf:RDF>"""
    rows = spo(parse_rdfxml(doc))
    assert ("<urn:s>", f"<{RDF}type>", "<http://ex.org/T>") in rows
