"""Full JSON-LD 1.0 expansion (sources/jsonld.py).

Golden test: the ND-JSON-LD fixture tests/fixtures/rio/efo_test.ndjsonld
(one JSON-LD 1.0 document per line: term definitions with type and
language coercion, value objects, native numbers and booleans, @vocab)
must expand to exactly the triple set of its hand-written Turtle twin
(efo_test.ttl) — the same equivalence the reference asserts via RDF4J in
NDJSONLDParserTest.java:43-52, here with our own Turtle parser reading
the golden side.
"""

import json
import os

import pytest

from halyard_spark import nt
from halyard_spark.sources.jsonld import jsonld_to_rows

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "rio")

EX = "http://ex.org/"


def rows(text, scope=""):
    return jsonld_to_rows(text if isinstance(text, str) else json.dumps(text),
                          scope=scope)


def spo(text, scope=""):
    return {(s, p, o) for s, p, o, _ in rows(text, scope)}


def test_efo_fixture_matches_turtle_golden():
    from halyard_spark.sources.turtle import parse_turtle

    with open(f"{FIXTURES}/efo_test.ndjsonld") as f:
        got = set()
        for line in f:
            line = line.strip()
            if line:
                got |= {(s, p, o) for s, p, o, _ in jsonld_to_rows(line, scope=line)}
    with open(f"{FIXTURES}/efo_test.ttl") as f:
        want = {(s, p, o) for s, p, o, _ in parse_turtle(f.read())}
    assert len(want) == 43
    assert got == want  # no bnodes in the fixture: direct set equality


def test_term_map_with_type_id_coercion():
    doc = {
        "@context": {
            "@vocab": "http://v.org/",
            "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
            "label": "rdfs:label",
            "parents": {"@id": "rdfs:subClassOf", "@type": "@id",
                        "@container": "@set"},
        },
        "@id": "http://x.org/a",
        "label": "thing",
        "parents": ["http://x.org/b", "http://x.org/c"],
    }
    rdfs = "http://www.w3.org/2000/01/rdf-schema#"
    assert spo(doc) == {
        ("<http://x.org/a>", f"<{rdfs}label>", nt.lit("thing")),
        ("<http://x.org/a>", f"<{rdfs}subClassOf>", "<http://x.org/b>"),
        ("<http://x.org/a>", f"<{rdfs}subClassOf>", "<http://x.org/c>"),
    }


def test_nested_context_override_and_inheritance():
    doc = {
        "@context": {"name": EX + "name", "p": EX + "p"},
        "@id": EX + "a",
        "name": "outer",
        "p": {
            "@context": {"name": EX + "inner_name"},
            "@id": EX + "b",
            "name": "inner",
            "p": {"@id": EX + "c"},  # `p` inherited from the outer ctx
        },
    }
    assert spo(doc) == {
        (f"<{EX}a>", f"<{EX}name>", nt.lit("outer")),
        (f"<{EX}a>", f"<{EX}p>", f"<{EX}b>"),
        (f"<{EX}b>", f"<{EX}inner_name>", nt.lit("inner")),
        (f"<{EX}b>", f"<{EX}p>", f"<{EX}c>"),
    }


def test_list_container_emits_rdf_collection():
    doc = {
        "@context": {"seq": {"@id": EX + "seq", "@container": "@list"}},
        "@id": EX + "a",
        "seq": ["x", "y"],
    }
    got = rows(doc)
    first = {(s, o) for s, p, o, _ in got if p == f"<{nt.RDF}first>"}
    rest = {(s, o) for s, p, o, _ in got if p == f"<{nt.RDF}rest>"}
    heads = [o for s, p, o, _ in got if p == f"<{EX}seq>"]
    assert len(heads) == 1 and heads[0].startswith("_:")
    n1 = heads[0]
    (n2,) = [o for s, o in rest if s == n1]
    assert (n1, nt.lit("x")) in first and (n2, nt.lit("y")) in first
    assert (n2, f"<{nt.RDF}nil>") in rest
    # explicit @list value object is equivalent
    doc2 = {"@context": {"seq": EX + "seq"}, "@id": EX + "a",
            "seq": {"@list": ["x", "y"]}}
    assert spo(doc2) == spo(doc)
    # empty list -> rdf:nil, no chain nodes
    doc3 = {"@context": {"seq": EX + "seq"}, "@id": EX + "a",
            "seq": {"@list": []}}
    assert spo(doc3) == {(f"<{EX}a>", f"<{EX}seq>", f"<{nt.RDF}nil>")}


def test_language_defaults_and_container():
    doc = {
        "@context": {"@language": "en", "t": EX + "t",
                     "plain": {"@id": EX + "plain", "@language": None},
                     "byLang": {"@id": EX + "l", "@container": "@language"}},
        "@id": EX + "a",
        "t": "hello",              # context default language
        "plain": "raw",            # term nulls the default
        "byLang": {"de": "Hallo", "fr": ["Bonjour", "Salut"]},
    }
    assert spo(doc) == {
        (f"<{EX}a>", f"<{EX}t>", nt.lit("hello", lang="en")),
        (f"<{EX}a>", f"<{EX}plain>", nt.lit("raw")),
        (f"<{EX}a>", f"<{EX}l>", nt.lit("Hallo", lang="de")),
        (f"<{EX}a>", f"<{EX}l>", nt.lit("Bonjour", lang="fr")),
        (f"<{EX}a>", f"<{EX}l>", nt.lit("Salut", lang="fr")),
    }


def test_base_and_relative_ids():
    doc = {
        "@context": {"@base": "http://b.org/dir/", "p": EX + "p"},
        "@id": "item",
        "p": {"@id": "other"},
    }
    assert spo(doc) == {
        ("<http://b.org/dir/item>", f"<{EX}p>", "<http://b.org/dir/other>"),
    }


def test_named_graph_lands_in_ctx_column():
    doc = {
        "@context": {"p": EX + "p"},
        "@id": EX + "g1",
        "@graph": [{"@id": EX + "a", "p": "v"}],
    }
    assert rows(doc) == [
        (f"<{EX}a>", f"<{EX}p>", nt.lit("v"), f"<{EX}g1>"),
    ]
    # top-level @graph with no @id -> default graph
    doc2 = {"@context": {"p": EX + "p"},
            "@graph": [{"@id": EX + "a", "p": "v"}]}
    assert rows(doc2) == [(f"<{EX}a>", f"<{EX}p>", nt.lit("v"), None)]


def test_reverse_property():
    doc = {
        "@context": {"children": {"@reverse": EX + "parent"}},
        "@id": EX + "a",
        "children": [{"@id": EX + "b"}, {"@id": EX + "c"}],
    }
    assert spo(doc) == {
        (f"<{EX}b>", f"<{EX}parent>", f"<{EX}a>"),
        (f"<{EX}c>", f"<{EX}parent>", f"<{EX}a>"),
    }


def test_index_container_drops_index():
    doc = {
        "@context": {"b": {"@id": EX + "b", "@container": "@index"}},
        "@id": EX + "a",
        "b": {"k1": "x", "k2": ["y", "z"]},
    }
    assert spo(doc) == {
        (f"<{EX}a>", f"<{EX}b>", nt.lit(v)) for v in ("x", "y", "z")
    }


def test_compact_iri_in_type_and_values():
    doc = {
        "@context": {"ex": EX, "k": {"@id": "ex:k", "@type": "@vocab"}},
        "@id": "ex:a",
        "@type": "ex:T",
        "k": "ex:v",
    }
    assert spo(doc) == {
        (f"<{EX}a>", f"<{nt.RDF}type>", f"<{EX}T>"),
        (f"<{EX}a>", f"<{EX}k>", f"<{EX}v>"),
    }


def test_nested_anonymous_nodes_get_distinct_stable_bnodes():
    doc = {
        "@context": {"p": EX + "p", "name": EX + "name"},
        "@id": EX + "a",
        "p": [{"name": "x"}, {"name": "x"}],  # same content, two nodes
    }
    got = rows(doc)
    children = [o for s, p, o, _ in got if p == f"<{EX}p>"]
    assert len(children) == 2 and len(set(children)) == 2
    assert all(c.startswith("_:") for c in children)
    assert rows(doc) == got  # deterministic


def test_explicit_bnode_labels_scoped_per_document():
    doc = {"@context": {"p": EX + "p"}, "@id": "_:x", "p": {"@id": "_:y"}}
    a = rows(doc, scope="line1")
    b = rows(doc, scope="line2")
    assert len(a) == 1 and a[0][0].startswith("_:b")
    assert a != b  # same labels in different documents stay distinct
    # within one document the label is stable
    doc2 = {"@context": {"p": EX + "p", "q": EX + "q"},
            "@id": "_:x", "p": {"@id": "_:x"}}
    (r,) = rows(doc2, scope="s")
    assert r[0] == r[2]


def test_set_object_flattens():
    doc = {"@context": {"p": EX + "p"}, "@id": EX + "a",
           "p": {"@set": ["u", "v"]}}
    assert spo(doc) == {(f"<{EX}a>", f"<{EX}p>", nt.lit(u)) for u in ("u", "v")}


def test_null_term_and_null_values_dropped():
    doc = {"@context": {"p": EX + "p", "gone": None}, "@id": EX + "a",
           "p": None, "gone": "x"}
    assert rows(doc) == []


def test_remote_context_raises():
    with pytest.raises(ValueError):
        rows({"@context": "http://schema.org/", "@id": EX + "a"})


def test_context_array_merging():
    doc = {
        "@context": [{"a": EX + "a1"}, {"b": EX + "b1", "a": EX + "a2"}],
        "@id": EX + "x",
        "a": "1", "b": "2",
    }
    assert spo(doc) == {
        (f"<{EX}x>", f"<{EX}a2>", nt.lit("1")),
        (f"<{EX}x>", f"<{EX}b1>", nt.lit("2")),
    }


def test_forward_reference_between_terms():
    doc = {
        "@context": {"label": "rdfs:label",
                     "rdfs": "http://www.w3.org/2000/01/rdf-schema#"},
        "@id": EX + "a",
        "label": "t",
    }
    assert spo(doc) == {
        (f"<{EX}a>", "<http://www.w3.org/2000/01/rdf-schema#label>",
         nt.lit("t")),
    }


def test_legacy_default_vocab_for_unmapped_terms():
    assert spo({"@id": EX + "a", "name": "x"}) == {
        (f"<{EX}a>", "<urn:ndjsonld:name>", nt.lit("x")),
    }


def test_list_node_labels_scoped_per_document():
    # rdf:first/rest chain labels must not coincide across documents —
    # two lines holding the same @list would otherwise share _:l nodes
    # and merge their chains when unioned into one graph.
    doc = {"@context": {"p": {"@id": EX + "p", "@container": "@list"}},
           "@id": EX + "a", "p": ["u", "v"]}
    heads_a = {o for s, p, o, _ in rows(doc, scope="line1")
               if p == f"<{EX}p>"}
    heads_b = {o for s, p, o, _ in rows(doc, scope="line2")
               if p == f"<{EX}p>"}
    assert heads_a and heads_b and heads_a.isdisjoint(heads_b)
    assert rows(doc, scope="line1") == rows(doc, scope="line1")  # stable


def test_list_container_coerces_single_value():
    # expansion treats "p": "a" as "p": ["a"] under @container: @list —
    # both spellings must emit an identical one-element rdf:first/rest
    # chain (and identical labels, per the bkey convention).
    ctx = {"@context": {"p": {"@id": EX + "p", "@container": "@list"}}}
    single = rows({**ctx, "@id": EX + "a", "p": "x"}, scope="s")
    listed = rows({**ctx, "@id": EX + "a", "p": ["x"]}, scope="s")
    explicit = rows({"@context": {"p": EX + "p"}, "@id": EX + "a",
                     "p": {"@list": ["x"]}}, scope="s")
    assert single == listed == explicit
    firsts = [(s, o) for s, p, o, _ in single if p == f"<{nt.RDF}first>"]
    rests = [(s, o) for s, p, o, _ in single if p == f"<{nt.RDF}rest>"]
    assert len(firsts) == 1 and firsts[0][1] == nt.lit("x")
    assert rests == [(firsts[0][0],
                      "<" + nt.RDF + "nil>")] or rests[0][1].endswith("nil>")


def test_keyword_aliasing_id_type():
    # JSON-LD 1.0 §6.14: a context may alias keywords — the
    # schema.org-style {"id": "@id", "type": "@type"} shape is ubiquitous
    # in real corpora; aliased keys must behave as the keyword, never as
    # an ordinary term (the pre-fix behavior minted a <@id> predicate).
    doc = {
        "@context": {"id": "@id", "type": "@type",
                     "name": "http://xmlns.com/foaf/0.1/name"},
        "id": EX + "alice",
        "type": "http://xmlns.com/foaf/0.1/Person",
        "name": "Alice",
    }
    assert spo(doc) == {
        (f"<{EX}alice>", f"<{nt.RDF}type>",
         "<http://xmlns.com/foaf/0.1/Person>"),
        (f"<{EX}alice>", "<http://xmlns.com/foaf/0.1/name>",
         nt.lit("Alice")),
    }


def test_keyword_aliasing_value_object_and_graph():
    doc = {
        "@context": {"value": "@value", "lang": "@language",
                     "graph": "@graph", "p": EX + "p"},
        "graph": [{"@id": EX + "s", "p": {"value": "hi", "lang": "en"}}],
    }
    assert spo(doc) == {(f"<{EX}s>", f"<{EX}p>", '"hi"@en')}


def test_keyword_alias_literal_spelling_wins():
    # when both the literal keyword and an alias are present, the literal
    # wins and the duplicate alias entry drops (colliding-keywords case)
    doc = {
        "@context": {"id": "@id"},
        "id": EX + "aliased", "@id": EX + "literal",
        EX + "q": "x",
    }
    assert spo(doc) == {(f"<{EX}literal>", f"<{EX}q>", nt.lit("x"))}


def test_invalid_reverse_container_raises():
    # "invalid reverse property": a reverse term admits only @set/@index
    # containers — @list/@language would put a list head or literal in
    # subject position (a silently wrong triple, the one thing this
    # module promises never to emit)
    doc = {
        "@context": {"rv": {"@reverse": EX + "p", "@container": "@language"}},
        "@id": EX + "s",
        "rv": {"en": "hello"},
    }
    with pytest.raises(ValueError, match="invalid reverse property"):
        rows(doc)
    doc["@context"]["rv"]["@container"] = "@list"
    with pytest.raises(ValueError, match="invalid reverse property"):
        rows(doc)


def test_language_tagged_nonstring_value_raises():
    # "invalid language-tagged value": @value with @language must be a
    # string — stringifying a bool would fabricate "True"@en
    doc = {"@id": EX + "s",
           EX + "p": {"@value": True, "@language": "en"}}
    with pytest.raises(ValueError, match="must be a string"):
        rows(doc)


def test_nested_arrays_flatten_and_list_of_lists_errors():
    """JSON-LD expansion flattens nested arrays recursively; a list
    inside an @list value is the spec's 'list of lists' error — it must
    raise (countable as a dirty-parse skip), never stringify the array's
    Python repr into a fabricated literal."""
    import json

    import pytest as _pytest

    from halyard_spark.sources.jsonld import jsonld_to_rows

    doc = {"@context": {"p": "http://x/p"}, "@id": "http://x/a",
           "p": [["a", "b"], "c"]}
    objs = sorted(o for _s, _p, o, _g in jsonld_to_rows(json.dumps(doc)))
    assert objs == ['"a"', '"b"', '"c"']

    nested_set = {"@context": {"p": "http://x/p"}, "@id": "http://x/a",
                  "p": {"@set": [["x"], "y"]}}
    objs = sorted(o for _s, _p, o, _g in jsonld_to_rows(json.dumps(nested_set)))
    assert objs == ['"x"', '"y"']

    lol = {"@context": {"p": {"@id": "http://x/p", "@container": "@list"}},
           "@id": "http://x/a", "p": [["a", "b"]]}
    with _pytest.raises(ValueError, match="list of lists"):
        jsonld_to_rows(json.dumps(lol))


def test_illegal_iri_chars_rejected_not_fabricated():
    """Untrusted IRIs with IRIREF-forbidden characters (space, '>', ...)
    must raise (JSON-LD / RDF/XML: document-level skip; TriX:
    statement-level skip) rather than emit a corrupt `<...>` lexical;
    the legacy urn:ndjsonld: key fallback percent-quotes instead, so
    arbitrary JSON keys still load as well-formed terms."""
    import json

    import pytest as _pytest

    from halyard_spark.sources.jsonld import jsonld_to_rows
    from halyard_spark.sources.rdfxml import parse_rdfxml
    from halyard_spark.sources.trix import parse_trix

    rows = jsonld_to_rows(json.dumps({"@id": "http://x/a", "my key": "v"}))
    assert rows == [("<http://x/a>", "<urn:ndjsonld:my%20key>", '"v"', None)]
    with _pytest.raises(ValueError, match="illegal character"):
        jsonld_to_rows(json.dumps({"@id": "http://x/a b", "p": "v"}))
    with _pytest.raises(ValueError, match="illegal character"):
        parse_rdfxml(
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
            ' xmlns:ex="http://x/"><rdf:Description rdf:about="http://x/a b">'
            "<ex:p>v</ex:p></rdf:Description></rdf:RDF>"
        )
    skips: list = []
    doc = (
        '<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/"><graph>'
        "<triple><uri>http://x/a b</uri><uri>http://x/p</uri><uri>http://x/o</uri></triple>"
        "<triple><uri>http://x/ok</uri><uri>http://x/p</uri><uri>http://x/o</uri></triple>"
        "</graph></TriX>"
    )
    assert parse_trix(doc, statement_skips=skips) == [
        ("<http://x/ok>", "<http://x/p>", "<http://x/o>", None)
    ]
    assert len(skips) == 1


def test_language_tags_lowercased_in_expansion():
    # JSON-LD 1.0 expansion lowercases @language everywhere: explicit
    # value objects, term defaults, context default, and language maps
    assert spo({"@context": {"p": EX + "p"}, "@id": EX + "x",
                "p": {"@value": "t", "@language": "EN"}}) == {
        (f"<{EX}x>", f"<{EX}p>", nt.lit("t", lang="en"))}
    assert spo({"@context": {"@language": "DE", "p": EX + "p"},
                "@id": EX + "x", "p": "v"}) == {
        (f"<{EX}x>", f"<{EX}p>", nt.lit("v", lang="de"))}
    assert spo({"@context": {"m": {"@id": EX + "m", "@container": "@language"}},
                "@id": EX + "x", "m": {"FR": "chat"}}) == {
        (f"<{EX}x>", f"<{EX}m>", nt.lit("chat", lang="fr"))}


def test_relative_iri_without_base_raises():
    # toRdf emits only well-formed (absolute) IRIs; with no @base a
    # relative @id cannot resolve — raise into the skip counters
    # (RDF4J fatal-errors the same way) rather than emit `<rel-id>`
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rows({"@id": "rel-id", EX + "p": "v"})
    with _pytest.raises(ValueError):
        rows({"@context": {"r": {"@id": EX + "r", "@type": "@id"}},
              "@id": EX + "x", "r": "noscheme"})
    # with @base both resolve fine
    assert spo({"@context": {"@base": "http://b/"}, "@id": "rel",
                EX + "p": "v"}) == {("<http://b/rel>", f"<{EX}p>", nt.lit("v"))}
