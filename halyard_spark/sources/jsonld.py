"""JSON-LD 1.0 expansion -> RDF triples (pure Python, driver-free).

The reference parses ND-JSON-LD by feeding each line to RDF4J's full
JSON-LD parser (rio/src/main/java/com/msd/gin/halyard/rio/
NDJSONLDParser.java:38-75) — so the per-line documents carry the whole
JSON-LD context algebra: term maps ("label": "rdfs:label"), expanded
term definitions ({"@id": ..., "@type": "@id", "@container": "@set"}),
``@vocab``/``@base``/``@language`` defaults, compact IRIs in keys and
values, ``@list``/``@set``/``@index``/``@language`` containers, nested
node objects, ``@graph`` (top-level and named), and ``@reverse``.
This module implements that expansion; the reference's own
``efo_test.ndjsonld`` fixture round-trips to the same triple set as its
Turtle golden (tests/test_jsonld.py).

Documented deviations from strict JSON-LD 1.0 (all surfaced as parse
errors or documented fallbacks, never silent wrong triples):
- remote ``@context`` URLs raise ``ValueError`` (no network in a bulk
  loader; the line is counted as skipped by the caller's dirty-parse
  metrics) rather than being fetched;
- keys that expand to no IRI (no term, no prefix, no ``@vocab``) fall
  back to the legacy ``urn:ndjsonld:`` vocabulary instead of being
  dropped, preserving this repo's historical ND-JSON-LD behavior;
- blank-node identifiers are deterministic content hashes (stable
  across partitionings — required for the distributed reader) instead
  of sequential labels; explicit ``_:x`` labels are scoped per
  document via the caller-provided ``scope`` string, mirroring the
  reference's fresh-parser-per-line bnode scoping.
"""

from __future__ import annotations

import hashlib
import json
from urllib.parse import quote, urljoin

from halyard_spark import nt

DEFAULT_VOCAB = "urn:ndjsonld:"

_KEYWORDS = {
    "@context", "@id", "@type", "@value", "@language", "@list", "@set",
    "@graph", "@reverse", "@index", "@base", "@vocab", "@container",
}


def _sha1(s: str) -> str:
    return hashlib.sha1(s.encode("utf-8")).hexdigest()


class _Ctx:
    """Active context: term definitions + @vocab/@base/@language."""

    __slots__ = ("terms", "vocab", "base", "language")

    def __init__(self, terms=None, vocab=None, base=None, language=None):
        self.terms = terms if terms is not None else {}
        self.vocab = vocab
        self.base = base
        self.language = language

    def copy(self) -> "_Ctx":
        return _Ctx(dict(self.terms), self.vocab, self.base, self.language)


def _has_scheme(s: str) -> bool:
    prefix, sep, _ = s.partition(":")
    if not sep:
        return False
    return bool(prefix) and all(
        c.isalnum() or c in "+.-" for c in prefix
    ) and prefix[0].isalpha()


def _push_ctx(active: _Ctx, local) -> _Ctx:
    """Process a local @context against the active one (JSON-LD 1.0
    Context Processing).  Term definitions may reference each other in
    any order; the lazy `defined` guard handles forward references and
    detects cycles."""
    if local is None:
        return _Ctx()  # null context = reset
    if isinstance(local, list):
        ctx = active
        for item in local:
            ctx = _push_ctx(ctx, item)
        return ctx
    if isinstance(local, str):
        raise ValueError(f"remote @context not supported: {local!r}")
    if not isinstance(local, dict):
        raise ValueError("@context must be null, an object, or an array")
    ctx = active.copy()
    if "@base" in local:
        b = local["@base"]
        ctx.base = None if b is None else (
            urljoin(ctx.base, b) if ctx.base else str(b))
    if "@vocab" in local:
        v = local["@vocab"]
        ctx.vocab = None if v is None else str(v)
    if "@language" in local:
        lang = local["@language"]
        # expansion lowercases language tags (JSON-LD 1.0 §6.1 / 8.6)
        ctx.language = None if lang is None else str(lang).lower()
    defined: dict[str, bool] = {}
    for term in local:
        if term not in ("@base", "@vocab", "@language"):
            _create_term(ctx, local, term, defined)
    return ctx


def _create_term(ctx: _Ctx, local: dict, term: str, defined: dict) -> None:
    if term in defined:
        if defined[term]:
            return
        raise ValueError(f"cyclic @context term definition: {term!r}")
    if term in _KEYWORDS:
        raise ValueError(f"keyword redefinition in @context: {term!r}")
    defined[term] = False
    value = local[term]
    if value is None or (isinstance(value, dict) and value.get("@id", "") is None):
        ctx.terms[term] = None  # term explicitly decoupled: drop on use
        defined[term] = True
        return
    if isinstance(value, str):
        value = {"@id": value}
    if not isinstance(value, dict):
        raise ValueError(f"invalid term definition for {term!r}")
    td: dict = {"id": None, "type": None, "language": -1, "container": None,
                "reverse": False}
    if "@reverse" in value:
        td["reverse"] = True
        td["id"] = _expand_iri(str(value["@reverse"]), ctx, vocab=True,
                               local=local, defined=defined)
    elif "@id" in value:
        td["id"] = _expand_iri(str(value["@id"]), ctx, vocab=True,
                               local=local, defined=defined)
    elif ":" in term:
        td["id"] = _expand_iri(term, ctx, vocab=True, local=local,
                               defined=defined)
    elif ctx.vocab is not None:
        td["id"] = ctx.vocab + term
    else:
        td["id"] = DEFAULT_VOCAB + term  # documented legacy fallback
    if "@type" in value:
        t = str(value["@type"])
        td["type"] = t if t in ("@id", "@vocab") else _expand_iri(
            t, ctx, vocab=True, local=local, defined=defined)
    if "@language" in value:
        lang = value["@language"]
        td["language"] = None if lang is None else str(lang).lower()
    if "@container" in value:
        c = value["@container"]
        cs = c if isinstance(c, list) else [c]
        known = {"@list", "@set", "@index", "@language"}
        picked = [x for x in cs if x in known]
        if len(picked) != len(cs):
            raise ValueError(f"unsupported @container for {term!r}: {c!r}")
        td["container"] = picked[0] if picked else None
    if td["reverse"] and td["container"] in ("@list", "@language"):
        # JSON-LD 1.0 "invalid reverse property": a reverse term admits
        # only @set/@index containers — an @list/@language value would
        # put a list head / literal in SUBJECT position
        raise ValueError(
            f"invalid reverse property {term!r}: @container {td['container']!r}")
    ctx.terms[term] = td
    defined[term] = True


def _expand_iri(value: str, ctx: _Ctx, vocab: bool = False,
                base: bool = False, local: dict | None = None,
                defined: dict | None = None) -> str | None:
    """Expand a term / compact IRI / relative IRI to an absolute IRI.
    `vocab` = vocab-mode (keys, @type values); `base` = document-relative
    (@id values).  During context processing, `local`/`defined` enable
    forward references between terms being defined."""
    if value in _KEYWORDS:
        return value
    if local is not None and value in local and not (defined or {}).get(value):
        _create_term(ctx, local, value, defined)
    if vocab and value in ctx.terms:
        td = ctx.terms[value]
        return None if td is None else td["id"]
    if ":" in value:
        prefix, _, suffix = value.partition(":")
        if prefix == "_":
            return value  # blank node label: scoped by the caller
        if suffix.startswith("//"):
            return value  # e.g. http://... — an absolute IRI already
        if local is not None and prefix in local and not (defined or {}).get(prefix):
            _create_term(ctx, local, prefix, defined)
        td = ctx.terms.get(prefix)
        if td is not None and td.get("id"):
            return td["id"] + suffix
        if _has_scheme(value):
            return value
    if vocab:
        if ctx.vocab is not None:
            return ctx.vocab + value
        # legacy urn:ndjsonld: fallback accepts ARBITRARY JSON keys —
        # percent-quote so a key with spaces/brackets still yields a
        # well-formed IRI instead of a corrupt `<...>` lexical
        return DEFAULT_VOCAB + quote(value, safe=":/#?&=%+~.-_!$'()*,;@")
    if base and ctx.base and not _has_scheme(value) and not value.startswith("_:"):
        return urljoin(ctx.base, value)
    return value


def _subject_term(sid: str, ctx: _Ctx, scope: str) -> str:
    if sid.startswith("_:"):
        return "_:b" + _sha1(f"{scope}|label|{sid[2:]}")
    return nt.iri_checked(_abs_iri(_expand_iri(sid, ctx, base=True)))


def _abs_iri(iri: str) -> str:
    """toRdf emits only well-formed (absolute) IRIs; a relative @id with
    no @base to resolve against raises so the caller's dirty-parse
    metrics count the skip (RDF4J likewise fatal-errors on relative
    IRIs) instead of emitting an invalid `<relative>` term.

    Stated dialect asymmetry: this absoluteness enforcement covers @id
    subjects and @id-typed values (base-mode expansion).  A bare
    relative @type on a node object, or a @type datatype on a value
    object, expands in VOCAB mode, where this dialect's documented
    fallback vocabulary (`urn:ndjsonld:`) absorbs terms with no @vocab/
    @base — so those positions never reach this rejection.  That is the
    deliberate ND-JSON-LD ingestion behavior (keep typed records
    flowing, count nothing as dirty for a missing vocabulary), not an
    oversight; RDF4J parity would instead fatal-error there."""
    if not _has_scheme(iri):
        raise ValueError(f"relative IRI with no @base: {iri!r}")
    return iri


_RDF_FIRST = nt.iri(nt.RDF + "first")
_RDF_REST = nt.iri(nt.RDF + "rest")
_RDF_NIL = nt.iri(nt.RDF + "nil")
_RDF_TYPE = nt.iri(nt.RDF + "type")


def _native_lit(v) -> str:
    if isinstance(v, bool):
        return nt.lit("true" if v else "false", dtype=nt.XSD + "boolean")
    if isinstance(v, int):
        return nt.lit(str(v), dtype=nt.XSD + "integer")
    if isinstance(v, float):
        return nt.lit(str(v), dtype=nt.XSD + "double")
    return nt.lit(str(v))


def _value_obj(v: dict, td, ctx: _Ctx) -> str | None:
    """{"@value": ...} -> literal term."""
    val = v.get("@value")
    if val is None:
        return None
    if "@language" in v:
        if not isinstance(val, str):
            # "invalid language-tagged value": only strings carry tags —
            # stringifying a bool/number here would fabricate a literal
            raise ValueError(f"@value with @language must be a string: {val!r}")
        lang = v["@language"]
        return nt.lit(val, lang=str(lang).lower() if lang else None)
    if "@type" in v:
        dt = _expand_iri(str(v["@type"]), ctx, vocab=True)
        s = ("true" if val else "false") if isinstance(val, bool) else str(val)
        return nt.lit(s, dtype=nt.check_iri(dt))
    if isinstance(val, (bool, int, float)):
        return _native_lit(val)
    lang = None
    if td is not None and td["language"] != -1:
        lang = td["language"]
    elif ctx.language is not None:
        lang = ctx.language
    return nt.lit(str(val), lang=lang)


def _emit_list(items: list, td, ctx: _Ctx, out: list, graph, scope: str,
               bkey: str) -> str:
    """rdf:first/rest chain; returns the head term (rdf:nil if empty)."""
    if not items:
        return _RDF_NIL
    head = prev = None
    for i, v in enumerate(items):
        node = "_:l" + _sha1(f"{scope}|{bkey}|{i}")  # document-scoped, like _emit_node
        obj = _expand_value(v, None if td is None else {**td, "container": None},
                            ctx, out, graph, scope, f"{bkey}|{i}")
        if obj is None:
            continue
        out.append((node, _RDF_FIRST, obj, graph))
        if prev is not None:
            out.append((prev, _RDF_REST, node, graph))
        else:
            head = node
        prev = node
    if prev is None:
        return _RDF_NIL
    out.append((prev, _RDF_REST, _RDF_NIL, graph))
    return head


def _expand_value(v, td, ctx: _Ctx, out: list, graph, scope: str,
                  bkey: str) -> str | None:
    """One value in object position -> an RDF term (emitting any
    auxiliary triples for nested nodes / lists into `out`)."""
    if isinstance(v, dict):
        v = _norm_keys(v, ctx)  # aliased @value/@list/@id keys (§6.14)
        if "@value" in v:
            return _value_obj(v, td, ctx)
        if "@list" in v:
            items = v["@list"]
            if not isinstance(items, list):
                items = [items]
            return _emit_list(items, td, ctx, out, graph, scope, bkey)
        if "@set" in v:
            raise ValueError("@set object is flattened by the caller")
        return _emit_node(v, ctx, out, graph, scope, bkey=bkey)
    if isinstance(v, (bool, int, float)):
        return _native_lit(v)
    if v is None:
        return None
    if isinstance(v, list):
        # only reachable from @list items: JSON-LD 1.0 "list of lists is
        # not allowed" — an expansion error, never a stringified repr
        raise ValueError("list of lists in JSON-LD @list value")
    s = str(v)
    if td is not None and td["type"] == "@id":
        iri = _expand_iri(s, ctx, base=True)
        return _subject_term(s, ctx, scope) if s.startswith("_:") else nt.iri_checked(_abs_iri(iri))
    if td is not None and td["type"] == "@vocab":
        if s.startswith("_:"):
            return _subject_term(s, ctx, scope)
        return nt.iri_checked(_expand_iri(s, ctx, vocab=True))
    if td is not None and td["type"]:
        return nt.lit(s, dtype=td["type"])
    lang = None
    if td is not None and td["language"] != -1:
        lang = td["language"]
    elif ctx.language is not None:
        lang = ctx.language
    return nt.lit(s, lang=lang)


def _keyword_alias(key: str, ctx: _Ctx) -> str | None:
    """Keyword aliasing (JSON-LD 1.0 §6.14): a context may map a term to
    a keyword ("id": "@id", "type": "@type" — the schema.org-style
    contexts real corpora carry).  Returns the keyword `key` aliases, or
    None if it's an ordinary term.  (@context itself cannot usefully be
    aliased — the alias would need a context to be understood.)"""
    if key.startswith("@"):
        return None
    td = ctx.terms.get(key)
    if isinstance(td, dict):
        kid = td.get("id")
        if isinstance(kid, str) and kid in _KEYWORDS:
            return kid
    return None


def _norm_keys(d: dict, ctx: _Ctx) -> dict:
    """Replace aliased keys with the keywords they stand for, so every
    downstream `"@id" in doc` check sees the canonical spelling.  A
    literal keyword key wins over an alias for the same keyword."""
    if not any(_keyword_alias(k, ctx) for k in d):
        return d
    out: dict = {}
    for k, v in d.items():
        kw = _keyword_alias(k, ctx)
        if kw is None:
            out[k] = v
        elif kw not in d and kw not in out:
            out[kw] = v
        # else: the keyword is also present literally (or via an earlier
        # alias) — the literal spelling wins, the duplicate alias drops
    return out


def _flatten_values(val, td, ctx: _Ctx) -> list:
    """Array + @set flattening for one key's raw value."""
    vals = val if isinstance(val, list) else [val]
    flat: list = []
    for v in vals:
        if isinstance(v, list):
            # JSON-LD expansion flattens nested arrays recursively
            # (outside @list, where a list-of-lists is an error instead)
            flat.extend(_flatten_values(v, td, ctx))
            continue
        if isinstance(v, dict):
            v = _norm_keys(v, ctx)
        if isinstance(v, dict) and "@set" in v and "@value" not in v:
            inner = v["@set"]
            flat.extend(_flatten_values(inner, td, ctx))
        else:
            flat.append(v)
    return flat


def _emit_node(doc: dict, ctx: _Ctx, out: list, graph, scope: str,
               bkey: str | None = None) -> str:
    """One node object -> triples appended to `out`; returns its subject
    term so callers can link to it."""
    if "@context" in doc:
        ctx = _push_ctx(ctx, doc["@context"])
    doc = _norm_keys(doc, ctx)
    sid = doc.get("@id")
    if isinstance(sid, str):
        subj = _subject_term(sid, ctx, scope)
    else:
        # scope participates in the hash so (a) two identical anonymous
        # SIBLING nodes stay distinct blank nodes (expand_document scopes
        # each top-level array element) and (b) anonymous nodes never
        # coincide across documents — the same per-document bnode scoping
        # the fresh-parser-per-line reference model gives labeled bnodes
        basis = bkey if bkey is not None else json.dumps(doc, sort_keys=True)
        subj = "_:b" + _sha1(f"{scope}|{basis}")
    for key, val in doc.items():
        if key in ("@context", "@id", "@index"):
            continue
        if key == "@type":
            for t in (val if isinstance(val, list) else [val]):
                iri = _expand_iri(str(t), ctx, vocab=True)
                if iri:
                    out.append((subj, _RDF_TYPE, nt.iri_checked(iri), graph))
            continue
        if key == "@graph":
            # named graph when the node is itself identified; otherwise
            # the nodes land in the current (default) graph
            g = subj if isinstance(sid, str) else graph
            for i, node in enumerate(val if isinstance(val, list) else [val]):
                if isinstance(node, dict):
                    _emit_node(node, ctx, out, g, scope, bkey=f"{subj}|@graph|{i}")
            continue
        if key == "@reverse":
            if not isinstance(val, dict):
                raise ValueError("@reverse value must be an object")
            for rkey, rval in val.items():
                pred_iri = _expand_iri(rkey, ctx, vocab=True)
                if pred_iri is None:
                    continue
                pred = nt.iri_checked(pred_iri)
                for i, v in enumerate(_flatten_values(rval, None, ctx)):
                    if not isinstance(v, dict) or "@value" in v:
                        raise ValueError("@reverse values must be node objects")
                    child = _emit_node(v, ctx, out, graph, scope,
                                       bkey=f"{subj}|rev|{pred_iri}|{i}")
                    out.append((child, pred, subj, graph))
            continue
        if key.startswith("@"):
            continue
        td = ctx.terms.get(key) if key in ctx.terms else False
        if td is None:
            continue  # term explicitly nulled in @context
        td = td if td is not False else None
        pred_iri = td["id"] if td is not None else _expand_iri(key, ctx, vocab=True)
        if not pred_iri:
            continue
        pred = nt.iri_checked(pred_iri)
        container = td["container"] if td is not None else None
        if container == "@language" and isinstance(val, dict):
            for lang in sorted(val):
                for lv in (val[lang] if isinstance(val[lang], list) else [val[lang]]):
                    obj = nt.lit(str(lv), lang=lang.lower() if lang else None)
                    row = (subj, pred, obj, graph)
                    (out.append(row) if not td["reverse"]
                     else out.append((obj, pred, subj, graph)))
            continue
        if container == "@index" and isinstance(val, dict):
            vals: list = []
            for k in sorted(val):
                vals.extend(_flatten_values(val[k], td, ctx))
        elif container == "@list" and not (
            isinstance(val, dict) and "@list" in _norm_keys(val, ctx)
        ):
            # expansion coerces the value to a list even when the JSON
            # holds a single element ("p": "a" == "p": ["a"]); an explicit
            # {"@list": ...} value object is handled by _expand_value —
            # detected AFTER keyword-alias normalization (§6.14), so an
            # aliased {"list": [...]} is not double-wrapped into a
            # list-of-lists (code-review regression).
            # Same bkey convention as a {"@list": [...]} value at index 0,
            # so both spellings yield identical deterministic labels
            head = _emit_list(val if isinstance(val, list) else [val],
                              td, ctx, out, graph, scope,
                              f"{subj}|{pred_iri}|0")
            out.append((subj, pred, head, graph))
            continue
        else:
            vals = _flatten_values(val, td, ctx)
        for i, v in enumerate(vals):
            obj = _expand_value(v, td, ctx, out, graph, scope,
                                f"{subj}|{pred_iri}|{i}")
            if obj is None:
                continue
            if td is not None and td["reverse"]:
                out.append((obj, pred, subj, graph))
            else:
                out.append((subj, pred, obj, graph))
    return subj


def expand_document(doc, out: list, scope: str = "") -> None:
    """A whole JSON-LD DOCUMENT -> (subj, pred, obj, ctx) rows appended
    to `out`.  Top level may be a node object, an array of node objects,
    or {@context, @graph: [...]} (context inherited by each node)."""
    if isinstance(doc, list):
        for i, node in enumerate(doc):
            if isinstance(node, dict):
                expand_document(node, out, scope=f"{scope}|{i}")
        return
    if not isinstance(doc, dict):
        return
    _emit_node(doc, _Ctx(), out, None, scope)


def jsonld_to_rows(text: str, scope: str = "") -> list[tuple]:
    """Parse one JSON-LD document string to a list of (s, p, o, ctx)
    rows.  Raises ValueError on malformed JSON or unsupported JSON-LD
    (remote contexts) so callers can count the skip."""
    doc = json.loads(text)
    out: list[tuple] = []
    expand_document(doc, out, scope=scope)
    return out


def parse_jsonld_file(text: str, path: str) -> tuple[list[tuple], int]:
    """One whole .jsonld document -> (quads, 0); its blank-node scope is
    the path itself (read by sources/rio.read_rdf)."""
    return jsonld_to_rows(text, scope=path), 0
