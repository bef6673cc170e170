"""RDF/XML file source — the RIO RDF/XML parser analog.

Completes the reference's format matrix (the bulk-load extension map,
tools/.../HalyardBulkLoad.java:251-259, routes .rdf/.owl/.xml to Rio's
RDF/XML parser).  Same Spark shape as the Turtle source: RDF/XML is a
whole-document format, so one file per row (wholetext scan) parsed by
``parse_rdfxml_file`` inside the shared whole-file loop of
``sources/rio.py`` — the FILE is the parallelism unit, matching the
reference's per-stream Rio parsing.

Syntax coverage (RDF 1.1 XML — the constructs real ontology corpora
use):

- ``rdf:RDF`` root (also tolerated absent: any root element treated as
  a node element), ``rdf:Description`` and TYPED node elements
- ``rdf:about`` / ``rdf:ID`` / ``rdf:nodeID`` / anonymous blank nodes
- property elements with text content (+ ``rdf:datatype``), nested node
  elements, ``rdf:resource`` / ``rdf:nodeID`` object refs, and
  property ATTRIBUTES on node elements
- ``rdf:parseType="Resource"`` (inline blank node) and
  ``rdf:parseType="Collection"`` (rdf:first/rest/nil chains) and
  ``rdf:parseType="Literal"`` (XML content serialized as an
  rdf:XMLLiteral)
- ``xml:lang`` and ``xml:base`` inheritance, relative IRI resolution
- ``rdf:li`` auto-numbered container membership properties

Dirty tolerance at file granularity: a file whose XML fails to parse
yields no rows instead of failing the job (skip-invalid semantics).
Blank node ids are scoped per file like the Turtle source.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from urllib.parse import urljoin

from halyard_spark import nt

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML = "http://www.w3.org/XML/1998/namespace"

_RDF_RDF = f"{{{RDF}}}RDF"
_RDF_DESCRIPTION = f"{{{RDF}}}Description"
_SYNTAX_ATTRS = {
    f"{{{RDF}}}about",
    f"{{{RDF}}}ID",
    f"{{{RDF}}}nodeID",
    f"{{{RDF}}}resource",
    f"{{{RDF}}}datatype",
    f"{{{RDF}}}parseType",
    f"{{{XML}}}lang",
    f"{{{XML}}}base",
}


def _split_qname(tag: str) -> str:
    """ElementTree gives '{ns}local' -> full IRI ns+local."""
    if tag.startswith("{"):
        ns, local = tag[1:].split("}", 1)
        return ns + local
    return tag


class _RdfXmlWalker:
    def __init__(self, bnode_scope: str = "b"):
        self.bnode_scope = bnode_scope
        self._bn = 0
        self._bnode_map: dict[str, str] = {}
        self.out: list[tuple[str, str, str, None]] = []

    def fresh_bnode(self) -> str:
        self._bn += 1
        return nt.bnode(f"{self.bnode_scope}a{self._bn}")

    def label_bnode(self, label: str) -> str:
        if label not in self._bnode_map:
            self._bnode_map[label] = nt.bnode(f"{self.bnode_scope}_{label}")
        return self._bnode_map[label]

    def emit(self, s: str, p: str, o: str) -> None:
        self.out.append((s, p, o, None))

    def resolve(self, ref: str, base: str | None) -> str:
        import re

        if base and not re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", ref):
            # checked: about/resource attribute values are untrusted text;
            # an illegal char raises and the existing skip-invalid path
            # counts the file (RDF4J's ParsedIRI fatal-errors the same way)
            return nt.iri_checked(urljoin(base, ref))
        return nt.iri_checked(ref)

    # ----- node elements
    def node_element(self, el: ET.Element, base: str | None, lang: str | None) -> str:
        base = el.get(f"{{{XML}}}base", base)
        lang = el.get(f"{{{XML}}}lang", lang)
        about = el.get(f"{{{RDF}}}about")
        rid = el.get(f"{{{RDF}}}ID")
        node_id = el.get(f"{{{RDF}}}nodeID")
        if about is not None:
            subj = self.resolve(about, base)
        elif rid is not None:
            subj = self.resolve(f"#{rid}", base)
        elif node_id is not None:
            subj = self.label_bnode(node_id)
        else:
            subj = self.fresh_bnode()

        tag_iri = _split_qname(el.tag)
        if el.tag != _RDF_DESCRIPTION:
            self.emit(subj, nt.iri(RDF + "type"), nt.iri(tag_iri))
        # property attributes (non-syntax attributes on the node element);
        # rdf:type as a property attribute takes a RESOURCE value
        # (RDF/XML §2.13), not a string literal
        for attr, value in el.attrib.items():
            if attr in _SYNTAX_ATTRS or attr.startswith(f"{{{XML}}}"):
                continue
            if attr == f"{{{RDF}}}type":
                self.emit(subj, nt.iri(RDF + "type"), self.resolve(value, base))
            else:
                self.emit(subj, nt.iri(_split_qname(attr)), nt.lit(value, lang=lang))

        li_counter = 0
        for child in el:
            li_counter = self.property_element(subj, child, base, lang, li_counter)
        return subj

    # ----- property elements
    def property_element(
        self, subj: str, el: ET.Element, base: str | None, lang: str | None, li_counter: int
    ) -> int:
        base = el.get(f"{{{XML}}}base", base)
        lang = el.get(f"{{{XML}}}lang", lang)
        tag_iri = _split_qname(el.tag)
        if el.tag == f"{{{RDF}}}li":
            li_counter += 1
            tag_iri = f"{RDF}_{li_counter}"
        pred = nt.iri(tag_iri)

        parse_type = el.get(f"{{{RDF}}}parseType")
        resource = el.get(f"{{{RDF}}}resource")
        node_id = el.get(f"{{{RDF}}}nodeID")
        datatype = el.get(f"{{{RDF}}}datatype")

        if parse_type == "Resource":
            inner = self.fresh_bnode()
            self.emit(subj, pred, inner)
            inner_li = 0
            for child in el:
                inner_li = self.property_element(inner, child, base, lang, inner_li)
            return li_counter
        if parse_type == "Collection":
            items = [self.node_element(child, base, lang) for child in el]
            nil = nt.iri(RDF + "nil")
            if not items:
                self.emit(subj, pred, nil)
                return li_counter
            nodes = [self.fresh_bnode() for _ in items]
            self.emit(subj, pred, nodes[0])
            for i, (n, item) in enumerate(zip(nodes, items)):
                self.emit(n, nt.iri(RDF + "first"), item)
                nxt = nodes[i + 1] if i + 1 < len(nodes) else nil
                self.emit(n, nt.iri(RDF + "rest"), nxt)
            return li_counter
        if parse_type == "Literal":
            xml_text = (el.text or "") + "".join(
                ET.tostring(c, encoding="unicode") for c in el
            )
            self.emit(subj, pred, nt.lit(xml_text, dtype=RDF + "XMLLiteral"))
            return li_counter
        if resource is not None:
            self.emit(subj, pred, self.resolve(resource, base))
            return li_counter
        if node_id is not None:
            self.emit(subj, pred, self.label_bnode(node_id))
            return li_counter

        children = list(el)
        if children:  # nested node element(s)
            for child in children:
                self.emit(subj, pred, self.node_element(child, base, lang))
            return li_counter

        # property attributes shorthand: empty element with non-syntax attrs
        prop_attrs = {
            a: v
            for a, v in el.attrib.items()
            if a not in _SYNTAX_ATTRS and not a.startswith(f"{{{XML}}}")
        }
        if prop_attrs and not (el.text or "").strip():
            inner = self.fresh_bnode()
            self.emit(subj, pred, inner)
            for attr, value in prop_attrs.items():
                if attr == f"{{{RDF}}}type":
                    self.emit(inner, nt.iri(RDF + "type"), self.resolve(value, base))
                else:
                    self.emit(inner, nt.iri(_split_qname(attr)), nt.lit(value, lang=lang))
            return li_counter

        text = el.text or ""
        if datatype is not None:
            self.emit(subj, pred, nt.lit(text, dtype=datatype))
        else:
            self.emit(subj, pred, nt.lit(text, lang=lang))
        return li_counter


def parse_rdfxml(
    text: str, bnode_scope: str = "b", base: str | None = None
) -> list[tuple[str, str, str, None]]:
    """RDF/XML document -> [(subj, pred, obj, ctx=None)] in N-Triples
    lexical form."""
    root = ET.fromstring(text)
    w = _RdfXmlWalker(bnode_scope=bnode_scope)
    base = root.get(f"{{{XML}}}base", base)
    lang = root.get(f"{{{XML}}}lang")
    if root.tag == _RDF_RDF:
        for child in root:
            w.node_element(child, base, lang)
    else:  # document whose root IS a node element
        w.node_element(root, base, lang)
    return w.out


def parse_rdfxml_file(text: str, path: str) -> tuple[list[tuple], int]:
    """One whole .rdf/.owl/.xml file -> (quads, 0), blank nodes scoped to
    the file (read by sources/rio.read_rdf)."""
    return parse_rdfxml(text, bnode_scope=nt.file_scope(path)), 0
