"""N-Triples term codec.

Halyard stores every RDF term as its N-Triples lexical string
(common/.../HalyardTableUtils.java:512-514 — NTriplesUtil.toNTriplesString)
and parses it back (HalyardTableUtils.java:516-526).  We keep the same
self-describing lexical representation so term-kind tests, language tags,
and datatypes are recoverable from the stored string:

    IRI      : <http://example/a>
    bnode    : _:b0
    literal  : "escaped text"  |  "text"@en  |  "3"^^<...#integer>

Three implementations of the same codec, one per execution surface:
- plain Python (`iri`/`lit`/`parse_term`) for fixtures and golden tests,
- Spark Column expressions (`nt_iri`/`nt_lit`/...) for JVM-side hot paths
  (whole-stage codegen — no Python involved),
- pandas vectorized (`pd_iri`/`pd_lit`) for inside mapInPandas stages.
"""

from __future__ import annotations

import hashlib
import re as _re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
# Reserved vocabulary (mirrors strategy/.../vocab/HALYARD.java namespace idea)
NS = "urn:halyard-spark:"

# ---------------------------------------------------------------- python

_ESCAPES = [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")]


def escape(s: str) -> str:
    for raw, esc in _ESCAPES:
        s = s.replace(raw, esc)
    return s


def unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            # \uXXXX / \UXXXXXXXX numeric escapes (the reference's
            # NTriplesUtil writer emits them for non-ASCII); malformed
            # sequences fall back to the literal chars
            if n == "u" and i + 6 <= len(s):
                try:
                    out.append(chr(int(s[i + 2 : i + 6], 16)))
                    i += 6
                    continue
                except ValueError:
                    pass
            if n == "U" and i + 10 <= len(s):
                try:
                    out.append(chr(int(s[i + 2 : i + 10], 16)))
                    i += 10
                    continue
                except ValueError:
                    pass
            out.append({"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t"}.get(n, n))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def iri(s: str) -> str:
    return f"<{s}>"


# characters an N-Triples IRIREF may not contain (grammar production
# [8]: anything in <> except ^#x00-#x20<>"{}|^`\ and UCHAR) — the same
# set RDF4J's ParsedIRI rejects, fatal-erroring the statement/document
_IRI_BAD = _re.compile(r'[\x00-\x20<>"{}|^`\\]')


def check_iri(s: str) -> str:
    """Validate a raw IRI string from UNTRUSTED parser input; raises
    ValueError so the caller's dirty-parse tolerance counts the skip
    instead of fabricating a malformed `<...>` term that corrupts every
    downstream lexical operation."""
    if not s or _IRI_BAD.search(s):
        raise ValueError(f"illegal character in IRI: {s!r}")
    return s


def iri_checked(s: str) -> str:
    return f"<{check_iri(s)}>"


def bnode(label: str) -> str:
    return f"_:{label}"


def file_scope(path: str) -> str:
    """Blank-node label scope of one input file (md5 of its path, 8 hex
    digits): ``_:x`` in two files names two nodes, per RDF semantics."""
    return hashlib.md5(path.encode()).hexdigest()[:8]


def lit(s: str, lang: str | None = None, dtype: str | None = None) -> str:
    base = f'"{escape(str(s))}"'
    if lang:
        return f"{base}@{lang}"
    if dtype:
        return f"{base}^^<{dtype}>"
    return base


def parse_term(t: str) -> dict:
    """Parse an N-Triples term into {kind, value, lang, datatype}."""
    if t.startswith("<") and t.endswith(">"):
        return {"kind": "iri", "value": t[1:-1], "lang": None, "datatype": None}
    if t.startswith("_:"):
        return {"kind": "bnode", "value": t[2:], "lang": None, "datatype": None}
    if t.startswith('"'):
        # find closing quote that is not escaped
        i = 1
        while i < len(t):
            if t[i] == "\\":
                i += 2
                continue
            if t[i] == '"':
                break
            i += 1
        label = unescape(t[1:i])
        rest = t[i + 1 :]
        if rest.startswith("@"):
            return {"kind": "literal", "value": label, "lang": rest[1:], "datatype": RDF + "langString"}
        if rest.startswith("^^<") and rest.endswith(">"):
            return {"kind": "literal", "value": label, "lang": None, "datatype": rest[3:-1]}
        return {"kind": "literal", "value": label, "lang": None, "datatype": XSD + "string"}
    raise ValueError(f"not an N-Triples term: {t!r}")


# ---------------------------------------------------------------- spark


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def nt_escape(col: str | Column) -> Column:
    c = _c(col)
    c = F.regexp_replace(c, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", "\\\\n")
    c = F.regexp_replace(c, "\r", "\\\\r")
    c = F.regexp_replace(c, "\t", "\\\\t")
    return c


def nt_iri(col: str | Column) -> Column:
    return F.concat(F.lit("<"), _c(col), F.lit(">"))


def nt_lit(col: str | Column, lang: str | None = None, dtype: str | None = None) -> Column:
    base = F.concat(F.lit('"'), nt_escape(col), F.lit('"'))
    if lang:
        return F.concat(base, F.lit(f"@{lang}"))
    if dtype:
        return F.concat(base, F.lit(f"^^<{dtype}>"))
    return base


def nt_is_iri(col: str | Column) -> Column:
    return _c(col).startswith("<")


def nt_is_bnode(col: str | Column) -> Column:
    return _c(col).startswith("_:")


def nt_is_literal(col: str | Column) -> Column:
    return _c(col).startswith('"')


def nt_iri_value(col: str | Column) -> Column:
    """IRI lexical form -> bare IRI string (inverse of nt_iri)."""
    return F.regexp_extract(_c(col), r"^<(.*)>$", 1)


# the label of a literal: everything between the opening quote and the
# first UNESCAPED closing quote (backslash-escape-aware, like parse_term)
_LABEL_RE = r'^"((?:[^"\\]|\\.)*)"'

# sentinel for two-phase unescaping (private-use codepoint; cannot appear
# in N-Triples-escaped text we produced ourselves)
_SENTINEL = ""


def nt_unescape(col: str | Column) -> Column:
    """Inverse of nt_escape.  Escaped backslashes are parked on a sentinel
    first so ``\\\\n`` (escaped backslash + n) does not become a newline.

    Known gap vs the Python codec: ``\\uXXXX`` / ``\\UXXXXXXXX`` numeric
    escapes pass through UNCHANGED (regexp_replace cannot compute a
    codepoint).  This repo's writers emit raw UTF-8 (never numeric
    escapes), so the gap only affects externally-authored N-Triples
    using them; route such data through the Python/Arrow parse path
    (nt.unescape decodes them correctly)."""
    c = _c(col)
    c = F.regexp_replace(c, r"\\\\", _SENTINEL)
    c = F.regexp_replace(c, r"\\n", "\n")
    c = F.regexp_replace(c, r"\\r", "\r")
    c = F.regexp_replace(c, r"\\t", "\t")
    c = F.regexp_replace(c, r'\\"', '"')
    return F.regexp_replace(c, _SENTINEL, "\\\\")


def nt_decode_uchar(col: str | Column) -> Column:
    """Normalize ``\\uXXXX`` / ``\\UXXXXXXXX`` numeric escapes in an
    N-Triples TERM to raw code points — pure Column expressions, no
    Python in the plan (the NT scan's whole-stage-codegen contract).

    The reference's Rio parser decodes numeric escapes at parse time
    (NTriplesUtil), so ``<urn:s\\u0041>`` and ``<urn:sA>`` are the SAME
    IRI; without this, the same term loaded from .nt vs .ttl would not
    join.  Canonical escaping is preserved: UCHARs whose target IS an
    NT-structural char (quote, backslash, newline, CR, tab) are rewritten
    to their canonical two-char escapes, never to raw chars that would
    break the term's lexical form.

    Mechanics: park ``\\\\`` on a private-use sentinel (so a real
    backslash followed by 'u' text is never misread as an escape),
    convert ``\\U``+8-hex to one or two ``\\u`` JSON escapes (surrogate
    pair above the BMP), double every backslash NOT starting a
    ``\\uXXXX`` escape, JSON-quote, and let ONE from_json decode all the
    numeric escapes.  Any malformed sequence makes from_json return NULL
    and the original term is kept (coalesce)."""
    c = _c(col)
    has = c.rlike(r"\\[uU][0-9A-Fa-f]")
    s = F.regexp_replace(c, r"\\\\", _SENTINEL)
    # structural targets -> canonical escapes (hex letters case-insensitive)
    for pat, rep in [
        (r"\\u0022|\\U00000022", '\\\\"'),
        (r"\\u005[cC]|\\U0000005[cC]", _SENTINEL),
        (r"\\u000[aA]|\\U0000000[aA]", r"\\n"),
        (r"\\u000[dD]|\\U0000000[dD]", r"\\r"),
        (r"\\u0009|\\U00000009", r"\\t"),
    ]:
        s = F.regexp_replace(s, pat, rep)
    # \U 8-hex -> \u escapes (split keeps each \U run at a part start)
    parts = F.split(s, r"(?=\\U[0-9A-Fa-f]{8})")

    def _conv(x):
        is_u = x.rlike(r"^\\U[0-9A-Fa-f]{8}")
        cp = F.conv(F.substring(x, 3, 8), 16, 10).cast("long")
        rest = F.substring(x, 11, 2147483647)
        bmp = F.concat(
            F.lit("\\u"),
            F.lpad(F.lower(F.conv(cp.cast("string"), 10, 16)), 4, "0"), rest)
        hi = F.shiftright(cp - 0x10000, 10) + F.lit(0xD800)
        lo = (cp - 0x10000) % F.lit(0x400) + F.lit(0xDC00)
        pair = F.concat(
            F.lit("\\u"),
            F.lpad(F.lower(F.conv(hi.cast("string"), 10, 16)), 4, "0"),
            F.lit("\\u"),
            F.lpad(F.lower(F.conv(lo.cast("string"), 10, 16)), 4, "0"), rest)
        return (
            F.when(~is_u, x)
            .when(cp <= 0xFFFF, bmp)
            .when(cp <= 0x10FFFF, pair)
            .otherwise(x)
        )

    s = F.array_join(F.transform(parts, _conv), "")
    # remaining backslashes are NT two-char escapes (\n, \", \') or lone
    # strays: double them so from_json returns them verbatim
    s = F.regexp_replace(s, r"\\(?![uU][0-9A-Fa-f]{4})", r"\\\\")
    # JSON-quote: escape raw quotes (term delimiters) and raw tab (the
    # one control char NT literals may contain unescaped)
    s = F.regexp_replace(s, '"', '\\\\"')
    s = F.regexp_replace(s, "\t", r"\\t")
    dec = F.element_at(
        F.from_json(F.concat(F.lit('["'), s, F.lit('"]')), "array<string>"), 1
    )
    out = F.regexp_replace(dec, _SENTINEL, r"\\\\")
    return F.when(has, F.coalesce(out, c)).otherwise(c)


def nt_str(col: str | Column) -> Column:
    """SPARQL STR(): IRI -> string, literal -> UNESCAPED label.

    Mirrors HalyardValueExprEvaluation.java:272-286 (which returns the
    literal's label, not its escaped lexical form).
    """
    c = _c(col)
    return (
        F.when(nt_is_iri(c), nt_iri_value(c))
        .when(nt_is_literal(c), nt_unescape(F.regexp_extract(c, _LABEL_RE, 1)))
        .otherwise(c)
    )


def nt_lang(col: str | Column) -> Column:
    """SPARQL LANG(): language tag or '' (HalyardValueExprEvaluation.java:320-331).

    Anchored to the escape-aware label-closing quote so a label that
    textually ends with @xx cannot be misread as a language tag."""
    return F.regexp_extract(_c(col), _LABEL_RE + r"@([A-Za-z][A-Za-z0-9-]*)$", 2)


def nt_datatype(col: str | Column) -> Column:
    """SPARQL DATATYPE() (HalyardValueExprEvaluation.java:341-356).

    The ^^<...> suffix is matched right after the escape-aware closing
    quote, so a label containing ``^^<...>`` text never leaks in."""
    c = _c(col)
    explicit = F.regexp_extract(c, _LABEL_RE + r"\^\^<(.*)>$", 2)
    return (
        F.when(~nt_is_literal(c), F.lit(None).cast("string"))
        .when(explicit != "", explicit)
        .when(nt_lang(c) != "", F.lit(RDF + "langString"))
        .otherwise(F.lit(XSD + "string"))
    )


def nt_localname(col: str | Column) -> Column:
    """IRI local name after last '#' or '/' (HalyardValueExprEvaluation.java:366-392)."""
    return F.element_at(F.split(nt_iri_value(col), r"[#/]"), -1)


# ---------------------------------------------------------------- pandas


def pd_escape(s: pd.Series) -> pd.Series:
    s = s.str.replace("\\", "\\\\", regex=False)
    s = s.str.replace('"', '\\"', regex=False)
    s = s.str.replace("\n", "\\n", regex=False)
    s = s.str.replace("\r", "\\r", regex=False)
    s = s.str.replace("\t", "\\t", regex=False)
    return s


def pd_iri(s: pd.Series) -> pd.Series:
    return "<" + s + ">"


def pd_lit(s: pd.Series, lang: str | None = None, dtype: str | None = None) -> pd.Series:
    base = '"' + pd_escape(s.astype(str)) + '"'
    if lang:
        return base + f"@{lang}"
    if dtype:
        return base + f"^^<{dtype}>"
    return base
