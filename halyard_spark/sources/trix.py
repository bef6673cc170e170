"""TriX source — the W3C TriX XML serialization (named graphs + triples).

The reference's bulk load special-cases TriX among its RIO-registered
input formats (tools/.../HalyardBulkLoad.java:130-137); this is the
Spark-native counterpart: whole-file XML parse per file (the file is the
parallelism unit, as with RDF/XML) by ``parse_trix_file`` inside the
shared whole-file loop of ``sources/rio.py``.

TriX document shape (W3C TriX note / RDF4J TriXParser semantics):

    <TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">
      <graph>
        <uri>http://example.org/g1</uri>          <!-- optional: default graph when absent -->
        <triple>
          <uri>http://example.org/s</uri>          <!-- or <id>bnode</id> -->
          <uri>http://example.org/p</uri>
          <plainLiteral xml:lang="en">hi</plainLiteral>
          <!-- or <typedLiteral datatype="...">...</typedLiteral> -->
        </triple>
      </graph>
    </TriX>

Terms are emitted in N-Triples lexical form (the store's native
representation).  Blank node ids are scoped per file so `x` in two
files never collides.  Unparseable files are skipped (counted when a
ParseMetrics is given); malformed <triple> elements inside a parseable
file are skipped statement-wise, mirroring the Turtle reader's
statement-level dirty tolerance.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from halyard_spark import nt

TRIX_NS = "http://www.w3.org/2004/03/trix/trix-1/"
XML_NS = "http://www.w3.org/XML/1998/namespace"


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _term(el: ET.Element, bnode_scope: str) -> str:
    kind = _local(el.tag)
    text = el.text or ""
    if kind == "uri":
        # checked: element text is untrusted; illegal chars raise and the
        # statement-level skip counts it (RDF4J TriXParser errors the same)
        return nt.iri_checked(text.strip())
    if kind == "id":
        return nt.bnode(f"{bnode_scope}_{text.strip()}")
    if kind == "plainLiteral":
        lang = el.get(f"{{{XML_NS}}}lang")
        return nt.lit(text, lang=lang)
    if kind == "typedLiteral":
        dt = el.get("datatype")
        if not dt:
            raise ValueError("typedLiteral without datatype")
        return nt.lit(text, dtype=nt.check_iri(dt))
    raise ValueError(f"unknown TriX term element <{kind}>")


def parse_trix(
    text: str, bnode_scope: str = "b", statement_skips: list | None = None
) -> list[tuple[str, str, str, str | None]]:
    """TriX document -> [(subj, pred, obj, ctx)]; ctx None for the
    default graph.  Malformed <triple>s are skipped (appended to
    `statement_skips` when provided)."""
    root = ET.fromstring(text)
    if _local(root.tag) != "TriX":
        raise ValueError(f"not a TriX document (root <{_local(root.tag)}>)")
    out: list[tuple[str, str, str, str | None]] = []
    for graph in root:
        if _local(graph.tag) != "graph":
            continue
        ctx: str | None = None
        triples: list[ET.Element] = []
        for child in graph:
            k = _local(child.tag)
            if k == "triple":
                triples.append(child)
            elif k in ("uri", "id") and ctx is None:
                # graph name element (<id> names a bnode graph) — honored
                # wherever it appears among the children, not only before
                # the first <triple>: the triples are buffered and ctx is
                # applied after the scan, so a late name element must not
                # silently reroute the graph to the default context
                # (code-review fix); first name wins if several appear
                ctx = _term(child, bnode_scope)
        for t in triples:
            terms = list(t)
            try:
                if len(terms) != 3:
                    raise ValueError(f"triple with {len(terms)} terms")
                s, p, o = (_term(x, bnode_scope) for x in terms)
                if s.startswith('"'):
                    raise ValueError("literal subject")
                if not p.startswith("<"):
                    raise ValueError("non-IRI predicate")
                out.append((s, p, o, ctx))
            except ValueError:
                if statement_skips is not None:
                    statement_skips.append(1)
                continue
    return out


def parse_trix_file(text: str, path: str) -> tuple[list[tuple], int]:
    """One whole .trix file -> (quads, statements skipped), blank nodes
    scoped to the file (read by sources/rio.read_rdf)."""
    skips: list = []
    quads = parse_trix(text, bnode_scope=nt.file_scope(path), statement_skips=skips)
    return quads, len(skips)
