"""Turtle / TriG file source — the RIO Turtle parser analog.

The reference's bulk load maps every RIO-registered RDF extension to a
parser (tools/.../HalyardBulkLoad.java:251-259) and streams each input
file through a Rio parser on a worker thread (ParserPump,
HalyardBulkLoad.java:321-482); most public RDF corpora ship as Turtle.
Turtle statements span lines, so unlike N-Triples there is no
line-delimited JVM fast path: the Spark-native shape is one file per row
(wholetext scan) parsed by ``parse_turtle_file`` inside the shared
whole-file loop of ``sources/rio.py`` — the FILE is the parallelism
unit, exactly the reference's model (Rio is single-threaded per stream
too), and a directory of files fans out across executors.

Grammar coverage (the Turtle surface the reference's own .ttl fixtures
and common corpora exercise):

- ``@prefix`` / ``@base`` and SPARQL-style ``PREFIX`` / ``BASE``
- prefixed names with full PN_LOCAL (embedded dots/colons, %-encoding,
  backslash escapes), the ``a`` keyword
- predicate lists ``;`` and object lists ``,``
- literals: short/long single/double-quoted strings with escapes,
  ``@lang``, ``^^datatype``, and numeric/boolean shorthand
  (xsd:integer / xsd:decimal / xsd:double / xsd:boolean)
- blank node labels, anonymous ``[ ... ]`` property lists, collections
  ``( ... )`` as rdf:first/rest/nil chains
- TriG graph blocks: ``GRAPH <g> { ... }``, ``<g> { ... }``, bare
  ``{ ... }`` (default graph) -> the ctx column

Dirty-parse tolerance mirrors HalyardBulkLoad's skip-invalid mode: a
malformed statement is skipped by resyncing to the next ``.`` / ``}`` at
top level instead of failing the file (and a file that fails wholesale
yields no rows instead of failing the job).  A failed statement emits
NOTHING — partially-built triples are rolled back before the resync, so
a truncated statement can never fabricate a triple from the next
statement's tokens.  Skips are counted on the parser (``.skipped``) and
surfaced through sources/metrics.ParseMetrics.

N3 (.n3) rides this parser as its Turtle-compatible subset: the RDF
statements N3 shares with Turtle parse identically, while N3-only
constructs (formulae ``{ } => { }``, ``@forAll``/``@forSome``, ``=``,
path expressions) are OUT OF SCOPE by design and fall into the dirty
resync (counted, not silently absorbed) — most published .n3 corpora
are plain Turtle in practice.

Terms are emitted in the store's native N-Triples lexical form
(halyard_spark.nt).  Blank node labels are scoped per input file (label
``_:x`` in two files must not collide, per RDF semantics), via a stable
hash of the file path.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

from halyard_spark import nt

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

# PN_LOCAL: leading char, then chars where '.' must not be terminal.
_PN_LOCAL = (
    r"(?:[A-Za-z0-9_:]|%[0-9A-Fa-f]{2}|\\[_~.\-!$&'()*+,;=/?#@%])"
    r"(?:(?:[A-Za-z0-9_:.\-]|%[0-9A-Fa-f]{2}|\\[_~.\-!$&'()*+,;=/?#@%])*"
    r"(?:[A-Za-z0-9_:\-]|%[0-9A-Fa-f]{2}|\\[_~.\-!$&'()*+,;=/?#@%]))?"
)
_PNAME = rf"(?:[A-Za-z][A-Za-z0-9_.\-]*[A-Za-z0-9_\-]|[A-Za-z])?:(?:{_PN_LOCAL})?"

_TOKEN = re.compile(
    r"""
      (?P<ws>\s+|\#[^\n]*)
    | (?P<iri><(?:[^<>"{}|^`\\\s]|\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8})*>)
    | (?P<lstr>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\"|'''(?:[^'\\]|\\.|'(?!''))*''')
    | (?P<str>"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
    | (?P<bnode>_:[A-Za-z0-9](?:[A-Za-z0-9._\-]*[A-Za-z0-9_\-])?)
    | (?P<lang>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
    | (?P<num>[+-]?(?:\d+\.\d*[eE][+-]?\d+|\.\d+[eE][+-]?\d+|\d+[eE][+-]?\d+|\d+\.\d+|\.\d+|\d+))
    | (?P<pname>%s)
    | (?P<punct>\^\^|[.;,\[\]()\{\}])
    | (?P<word>[A-Za-z][A-Za-z0-9_\-]*)
    | (?P<bad>.)
    """
    % _PNAME,
    re.VERBOSE,
)

_STR_ESC = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape_string(body: str) -> str:
    out: list[str] = []
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        e = body[i + 1]
        if e in _STR_ESC:
            out.append(_STR_ESC[e])
            i += 2
        elif e == "u":
            out.append(chr(int(body[i + 2 : i + 6], 16)))
            i += 6
        elif e == "U":
            out.append(chr(int(body[i + 2 : i + 10], 16)))
            i += 10
        else:
            raise ValueError(f"bad string escape \\{e}")
    return "".join(out)


def _unescape_iri(body: str) -> str:
    if "\\" not in body:
        return body
    return re.sub(
        r"\\u([0-9A-Fa-f]{4})|\\U([0-9A-Fa-f]{8})",
        lambda m: chr(int(m.group(1) or m.group(2), 16)),
        body,
    )


def _unescape_local(local: str) -> str:
    # PN_LOCAL_ESC: the backslash is removed, the char is literal
    return re.sub(r"\\([_~.\-!$&'()*+,;=/?#@%])", r"\1", local)


def tokenize(text: str) -> list[tuple[str, str]]:
    """Turtle/TriG text -> [(kind, lexeme)] with whitespace/comments
    dropped.  Unknown characters surface as ('bad', c) so the parser's
    per-statement resync (not the tokenizer) owns error handling."""
    tokens: list[tuple[str, str]] = []
    for m in _TOKEN.finditer(text):
        kind = m.lastgroup
        if kind == "ws":
            continue
        tokens.append((kind, m.group()))
    return tokens


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------


class _TurtleParser:
    def __init__(self, tokens: list[tuple[str, str]], bnode_scope: str = "b"):
        self.toks = tokens
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self.bnode_scope = bnode_scope
        self._bn = 0
        self._bnode_map: dict[str, str] = {}
        self.out: list[tuple[str, str, str, str | None]] = []
        self.ctx: str | None = None
        self._dirty_ok = False
        self.skipped = 0  # statements dropped by dirty-parse resync

    # -- token helpers
    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str]:
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of input")
        self.i += 1
        return t

    def expect_punct(self, p: str) -> None:
        t = self.next()
        if t != ("punct", p):
            raise ValueError(f"expected {p!r}, got {t!r}")

    # -- term construction
    def fresh_bnode(self) -> str:
        self._bn += 1
        return nt.bnode(f"{self.bnode_scope}a{self._bn}")

    def label_bnode(self, label: str) -> str:
        if label not in self._bnode_map:
            self._bnode_map[label] = nt.bnode(f"{self.bnode_scope}_{label[2:]}")
        return self._bnode_map[label]

    def resolve_iri(self, raw: str) -> str:
        value = _unescape_iri(raw[1:-1])
        if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", value):
            value = urljoin(self.base, value)
        return nt.iri(value)

    def expand_pname(self, lex: str) -> str:
        pfx, _, local = lex.partition(":")
        if pfx not in self.prefixes:
            raise ValueError(f"undeclared prefix {pfx!r}:")
        return nt.iri(self.prefixes[pfx] + _unescape_local(local))

    # -- grammar
    def parse_document(self, dirty_ok: bool = True) -> list[tuple]:
        self._dirty_ok = dirty_ok
        while self.peek() is not None:
            start = self.i
            mark = len(self.out)
            try:
                self.parse_statement()
            except ValueError:
                if not dirty_ok:
                    raise
                # roll back partially-emitted triples: a failed statement
                # must emit NOTHING (RDF4J skip-invalid drops the whole
                # statement, never a fabricated prefix of it)
                del self.out[mark:]
                self.skipped += 1
                self.resync(start)
        return self.out

    def resync(self, start: int) -> None:
        """Skip past the failed statement: rescan from its FIRST token and
        advance to the first top-level '.' (HalyardBulkLoad skip-invalid
        semantics).  Rescanning from ``start`` — not from wherever the
        failed parse stopped — matters when the parse error was raised
        only AFTER consuming the statement's own terminator (e.g. a
        missing object: ``<a> <p> .``): hunting from the post-error
        position would eat the next valid statement.  Brace-aware: a
        failure before/at a graph block skips the WHOLE block rather than
        resuming inside it with the wrong (default) context."""
        self.i = start
        depth = 0
        braces = 0
        while self.i < len(self.toks):
            k, lex = self.toks[self.i]
            self.i += 1
            if k == "punct":
                if lex in "[(":
                    depth += 1
                elif lex in "])":
                    depth = max(0, depth - 1)
                elif lex == "{":
                    braces += 1
                elif lex == "}":
                    if braces == 0:
                        return  # stray close: consume and resume
                    braces -= 1
                    if braces == 0:
                        return  # skipped a whole graph block
                elif lex == "." and depth == 0 and braces == 0:
                    return

    def _resync_in_block(self, start: int) -> None:
        """Statement-level recovery INSIDE a graph block: skip to the next
        '.' at depth 0 but never consume the block's closing '}', so the
        remaining statements keep their graph context.  Rescans from the
        statement's first token (see ``resync`` for why)."""
        self.i = start
        depth = 0
        while self.i < len(self.toks):
            k, lex = self.toks[self.i]
            if k == "punct" and lex == "}" and depth == 0:
                return  # leave for parse_graph_block to consume
            self.i += 1
            if k == "punct":
                if lex in "[({":
                    depth += 1
                elif lex in "])}":
                    depth = max(0, depth - 1)
                elif lex == "." and depth == 0:
                    return

    def parse_statement(self) -> None:
        k, lex = self.peek()  # type: ignore[misc]
        if k == "word" and lex.lower() in ("prefix", "base"):
            self.parse_sparql_directive()
        elif k == "lang" and lex.lower() in ("@prefix", "@base"):
            self.parse_directive()
        elif k == "word" and lex.lower() == "graph":
            self.next()
            self.parse_graph_block(self.parse_graph_label())
        elif k == "punct" and lex == "{":
            self.parse_graph_block(None)
            self._reject_formula_tail()
        else:
            # TriG allows `<g> { ... }`: a lone IRI/pname followed by '{'
            save = self.i
            if k in ("iri", "pname", "bnode"):
                label = self.parse_graph_label()
                nxt = self.peek()
                if nxt == ("punct", "{"):
                    self.parse_graph_block(label)
                    return
                self.i = save
            self.parse_triples()
            self.expect_punct(".")

    def _reject_formula_tail(self) -> None:
        """A bare `{ ... }` followed by `=` / `=>` is an N3 formula, not a
        TriG default-graph block — fail the statement so the rollback
        discards the block's triples (N3 logic is out of scope)."""
        nxt = self.peek()
        if nxt is not None and nxt[1] == "=":
            raise ValueError("N3 formula (implication) is out of scope")

    def parse_directive(self) -> None:
        _, lex = self.next()
        if lex.lower() == "@prefix":
            self.declare_prefix()
            self.expect_punct(".")
        else:  # @base
            self.declare_base()
            self.expect_punct(".")

    def parse_sparql_directive(self) -> None:
        _, lex = self.next()
        if lex.lower() == "prefix":
            self.declare_prefix()  # SPARQL-style: no trailing '.'
        else:
            self.declare_base()

    def declare_prefix(self) -> None:
        k, lex = self.next()
        if k != "pname" or not lex.endswith(":"):
            raise ValueError(f"expected prefix declaration, got {lex!r}")
        k2, iri_lex = self.next()
        if k2 != "iri":
            raise ValueError("expected IRI in prefix declaration")
        self.prefixes[lex[:-1]] = nt.parse_term(self.resolve_iri(iri_lex))["value"]

    def declare_base(self) -> None:
        k, iri_lex = self.next()
        if k != "iri":
            raise ValueError("expected IRI in base declaration")
        self.base = _unescape_iri(iri_lex[1:-1])

    def parse_graph_label(self) -> str:
        k, lex = self.next()
        if k == "iri":
            return self.resolve_iri(lex)
        if k == "pname":
            return self.expand_pname(lex)
        if k == "bnode":
            return self.label_bnode(lex)
        raise ValueError(f"bad graph label {lex!r}")

    def parse_graph_block(self, graph: str | None) -> None:
        self.expect_punct("{")
        prev = self.ctx
        self.ctx = graph
        try:
            while self.peek() is not None and self.peek() != ("punct", "}"):
                start = self.i
                mark = len(self.out)
                try:
                    self.parse_triples()
                    nxt = self.peek()
                    if nxt == ("punct", "."):
                        self.next()
                    elif nxt is not None and nxt != ("punct", "}"):
                        # missing terminator: the statement that just
                        # "parsed" stole the next statement's tokens —
                        # fail it so the rollback discards its output
                        raise ValueError(f"expected '.' after statement, got {nxt!r}")
                except ValueError:
                    if not getattr(self, "_dirty_ok", False):
                        raise
                    # recover WITHIN the block: later statements keep ctx;
                    # roll back any partially-emitted triples first
                    del self.out[mark:]
                    self.skipped += 1
                    self._resync_in_block(start)
                    continue
            self.expect_punct("}")
        finally:
            self.ctx = prev

    def parse_triples(self) -> None:
        k, lex = self.peek()  # type: ignore[misc]
        if k == "punct" and lex == "[":
            subj = self.parse_bnode_property_list()
            if self.peek() not in (("punct", "."), ("punct", "}"), None):
                self.parse_predicate_object_list(subj)
        else:
            subj = self.parse_subject()
            self.parse_predicate_object_list(subj)

    def parse_subject(self) -> str:
        k, lex = self.next()
        if k == "iri":
            return self.resolve_iri(lex)
        if k == "pname":
            return self.expand_pname(lex)
        if k == "bnode":
            return self.label_bnode(lex)
        if k == "punct" and lex == "(":
            return self.parse_collection()
        raise ValueError(f"bad subject {lex!r}")

    def parse_predicate_object_list(self, subj: str) -> None:
        while True:
            pred = self.parse_predicate()
            self.parse_object_list(subj, pred)
            if self.peek() == ("punct", ";"):
                while self.peek() == ("punct", ";"):
                    self.next()
                if self.peek() in (("punct", "."), ("punct", "}"), ("punct", "]"), None):
                    return
                continue
            return

    def parse_predicate(self) -> str:
        k, lex = self.next()
        if k == "word" and lex == "a":
            return nt.iri(RDF + "type")
        if k == "iri":
            return self.resolve_iri(lex)
        if k == "pname":
            return self.expand_pname(lex)
        raise ValueError(f"bad predicate {lex!r}")

    def parse_object_list(self, subj: str, pred: str) -> None:
        while True:
            obj = self.parse_object()
            self.out.append((subj, pred, obj, self.ctx))
            if self.peek() == ("punct", ","):
                self.next()
                continue
            return

    def parse_object(self) -> str:
        k, lex = self.next()
        if k == "iri":
            return self.resolve_iri(lex)
        if k == "pname":
            return self.expand_pname(lex)
        if k == "bnode":
            return self.label_bnode(lex)
        if k in ("str", "lstr"):
            body = lex[3:-3] if k == "lstr" else lex[1:-1]
            value = _unescape_string(body)
            nxt = self.peek()
            if nxt is not None and nxt[0] == "lang":
                self.next()
                return nt.lit(value, lang=nxt[1][1:])
            if nxt == ("punct", "^^"):
                self.next()
                dk, dlex = self.next()
                if dk == "iri":
                    dt = nt.parse_term(self.resolve_iri(dlex))["value"]
                elif dk == "pname":
                    dt = nt.parse_term(self.expand_pname(dlex))["value"]
                else:
                    raise ValueError(f"bad datatype {dlex!r}")
                return nt.lit(value, dtype=dt)
            return nt.lit(value)
        if k == "num":
            if re.fullmatch(r"[+-]?\d+", lex):
                return nt.lit(lex, dtype=XSD + "integer")
            if "e" in lex or "E" in lex:
                return nt.lit(lex, dtype=XSD + "double")
            return nt.lit(lex, dtype=XSD + "decimal")
        if k == "word" and lex in ("true", "false"):
            return nt.lit(lex, dtype=XSD + "boolean")
        if k == "punct" and lex == "[":
            self.i -= 1
            return self.parse_bnode_property_list()
        if k == "punct" and lex == "(":
            return self.parse_collection()
        raise ValueError(f"bad object {lex!r}")

    def parse_bnode_property_list(self) -> str:
        self.expect_punct("[")
        node = self.fresh_bnode()
        if self.peek() == ("punct", "]"):
            self.next()
            return node
        self.parse_predicate_object_list(node)
        self.expect_punct("]")
        return node

    def parse_collection(self) -> str:
        # '(' already consumed by caller? parse_subject/parse_object call
        # with '(' consumed — build rdf:first/rest chain
        items: list[str] = []
        while self.peek() is not None and self.peek() != ("punct", ")"):
            items.append(self.parse_object())
        self.expect_punct(")")
        nil = nt.iri(RDF + "nil")
        if not items:
            return nil
        first = nt.iri(RDF + "first")
        rest = nt.iri(RDF + "rest")
        nodes = [self.fresh_bnode() for _ in items]
        for idx, (node, item) in enumerate(zip(nodes, items)):
            self.out.append((node, first, item, self.ctx))
            nxt = nodes[idx + 1] if idx + 1 < len(nodes) else nil
            self.out.append((node, rest, nxt, self.ctx))
        return nodes[0]


def parse_turtle(
    text: str,
    bnode_scope: str = "b",
    base: str | None = None,
    dirty_ok: bool = True,
) -> list[tuple[str, str, str, str | None]]:
    """Turtle/TriG text -> [(subj, pred, obj, ctx)] in N-Triples lexical
    form; ctx is None outside TriG graph blocks."""
    p = _TurtleParser(tokenize(text), bnode_scope=bnode_scope)
    p.base = base
    return p.parse_document(dirty_ok=dirty_ok)


def parse_turtle_file(text: str, path: str) -> tuple[list[tuple], int]:
    """One whole .ttl/.trig file -> (quads, statements skipped), blank
    nodes scoped to the file (read by sources/rio.read_rdf)."""
    p = _TurtleParser(tokenize(text), bnode_scope=nt.file_scope(path))
    return p.parse_document(dirty_ok=True), p.skipped
