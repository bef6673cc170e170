"""HTTP SPARQL protocol endpoint — thin server over the text front-end.

The reference ships a lightweight com.sun.net.httpserver-based endpoint
(tools/.../HttpSparqlHandler.java:56-180, HalyardEndpoint.java): GET with
?query=, POST with application/sparql-query or form-encoded query, plus
STORED QUERIES addressable by path.  This is the same surface on Python's
stdlib http.server, evaluating through query/sparql.plan_query and
answering in the SPARQL 1.1 Query Results JSON Format.

A thin server is the right shape here: query execution happens in Spark
(the driver holds the SparkSession); the endpoint only parses protocol.

Plan cache
----------
The store changes only when an UPDATE runs, so the endpoint plans each
query once per store snapshot.  It keeps an LRU of ``Prepared`` results
keyed on (query text after ``{{param}}`` substitution, protocol
dataset).  A hit collects the kept frame again.  Spark keeps that
frame's executed plan, so a hit skips the SPARQL parse, the planner and
its py4j calls, and Catalyst analysis, optimization and physical
planning, and it reuses the broadcast and shuffle stages AQE already
ran; only the final stage reads the store again.  Per kgbench class on
the kgbench store (60,860 quads, 4 cores, 3 GB heap), medians of 12
distinct queries, process-tree CPU-ms and py4j commands per request
(SKILL.md "Plan cache"):

    class      miss CPU  miss py4j  hit CPU  hit py4j
    point_po        205         41       40         7
    point_s         170         45       50         7
    join            590        105       55         7
    agg             535        257       95         7
    path            335         79       90         7
    closure         300        199       45         7

Rules:

- One snapshot.  The entries belong to the ``triples`` frame they were
  planned on.  A request that sees another ``ep.triples`` (an UPDATE, or
  a caller's own assignment) empties the cache, and a plan whose
  snapshot was replaced while it ran is not kept.
- Only after success.  A result is kept once its first collect()
  succeeded; a kept one whose re-run fails is dropped.
- No volatile plans.  Spark fixes the seed of rand() and uuid() at
  analysis and folds current_timestamp() at optimization, so a re-run
  would repeat RAND, UUID, STRUUID and NOW values: ``plan_query``
  reports such plans and they are never kept.
- One lock guards the dict and plans run outside it, so two concurrent
  misses on one key may both plan (counted as ``duplicates``).

The bound, ``PLAN_CACHE_ENTRIES``, is set by memory and hit share.  A
kept plan holds its broadcast hash relations, and a string-keyed
relation takes at least one Tungsten page (``spark.buffer.pageSize``,
16 MB at kgbench's 3 GB heap on 4 cores, up to 64 MB on larger heaps).
Heap held by 24 distinct kept plans of one class, 3 GB heap:

    point_po 7 MB, point_s 7, join 795 (two relations per plan),
    agg 16, path 404 (one), closure 2.

LRU hit share over kgbench sparql_read's warm pass and measured queries,
seeds 1-12: 8 entries 34%, 12 50%, 16 57%, 20 61%, 24 and 32 63% (every
repeat).  24 keeps every repeat there and holds a quarter less than 32
in the worst class.  With a 1 GB heap, 160 distinct join queries
through one endpoint all answered with the right row counts.

``GET /status`` answers the counters as JSON (entries, the bound, hits,
misses, evictions, volatile, duplicates) unless a stored query is named
``status``.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halyard_spark import nt
from halyard_spark.query.exprs import as_term
from halyard_spark.query.sparql import plan_query, sparql_update

RESULTS_JSON = "application/sparql-results+json"
RESULTS_XML = "application/sparql-results+xml"
RESULTS_CSV = "text/csv"
RESULTS_TSV = "text/tab-separated-values"

# prepared results one endpoint keeps per store snapshot ("Plan cache")
PLAN_CACHE_ENTRIES = 24


def binding_json(value) -> dict | None:
    """One RDF term (N-Triples lexical or plain value) -> SPARQL-results
    JSON binding object."""
    if value is None:
        return None
    if isinstance(value, str) and (
        value.startswith("<") or value.startswith("_:") or value.startswith('"')
    ):
        try:
            t = nt.parse_term(value)
        except ValueError:
            return {"type": "literal", "value": value}
        if t["kind"] == "iri":
            return {"type": "uri", "value": t["value"]}
        if t["kind"] == "bnode":
            return {"type": "bnode", "value": t["value"]}
        out = {"type": "literal", "value": t["value"]}
        if t["lang"]:
            out["xml:lang"] = t["lang"]
        elif t["datatype"] and t["datatype"] != nt.XSD + "string":
            out["datatype"] = t["datatype"]
        return out
    return {"type": "literal", "value": str(value)}


class Prepared(NamedTuple):
    """A query result ready to render: its columns, whether it is an ASK
    answer, and the frame whose ``collect()`` gives its rows as RDF
    terms.  Collecting the same frame again re-runs its executed plan."""

    cols: list
    ask: bool
    frame: DataFrame


_TRUE = nt.lit("true", dtype=nt.XSD + "boolean")


def prepare(df: DataFrame, limit: int = 10000) -> Prepared:
    """The one step from a query's frame to what the four result formats
    render.  Computed columns (aggregates, arithmetic, comparisons) keep
    their native Spark type until here and render through as_term, so a
    COUNT answers "2"^^xsd:integer and a comparison "true"^^xsd:boolean;
    an all-string result keeps its plan.  ASK results are a single
    BOOLEAN `ask` column; a SELECT projecting a term variable that
    happens to be named ?ask stays tabular.  At most ``limit`` rows."""
    dtypes = df.dtypes
    if any(t != "string" for _, t in dtypes):
        df = df.select(*[as_term(F.col(c), t).alias(c) for c, t in dtypes])
    return Prepared([c for c, _ in dtypes], dtypes == [("ask", "boolean")], df.limit(limit))


def _json_doc(p: Prepared) -> dict:
    rows = p.frame.collect()
    if p.ask:  # ASK answers use the boolean result form
        return {"head": {}, "boolean": rows[0]["ask"] == _TRUE}
    bindings = []
    for row in rows:
        b = {}
        for c in p.cols:
            j = binding_json(row[c])
            if j is not None:
                b[c] = j
        bindings.append(b)
    return {"head": {"vars": p.cols}, "results": {"bindings": bindings}}


def _xml_doc(p: Prepared) -> str:
    """SPARQL 1.1 Query Results XML Format."""
    from xml.sax.saxutils import escape as x

    rows = p.frame.collect()
    out = ['<?xml version="1.0"?>', '<sparql xmlns="http://www.w3.org/2005/sparql-results#">']
    if p.ask:
        out += ["<head/>", f"<boolean>{'true' if rows[0]['ask'] == _TRUE else 'false'}</boolean>", "</sparql>"]
        return "\n".join(out)
    out.append("<head>" + "".join(f'<variable name="{x(c)}"/>' for c in p.cols) + "</head>")
    out.append("<results>")
    for row in rows:
        cells = []
        for c in p.cols:
            b = binding_json(row[c])
            if b is None:
                continue
            if b["type"] == "uri":
                term = f"<uri>{x(b['value'])}</uri>"
            elif b["type"] == "bnode":
                term = f"<bnode>{x(b['value'])}</bnode>"
            else:
                attrs = ""
                if "xml:lang" in b:
                    attrs = f' xml:lang="{x(b["xml:lang"])}"'
                elif "datatype" in b:
                    attrs = f' datatype="{x(b["datatype"])}"'
                term = f"<literal{attrs}>{x(b['value'])}</literal>"
            cells.append(f'<binding name="{x(c)}">{term}</binding>')
        out.append("<result>" + "".join(cells) + "</result>")
    out += ["</results>", "</sparql>"]
    return "\n".join(out)


def _csv_cell(value) -> str:
    b = binding_json(value)
    if b is None:
        return ""
    v = b["value"]
    if any(ch in v for ch in ',"\n\r'):
        return '"' + v.replace('"', '""') + '"'
    return v


def _tsv_cell(value) -> str:
    if value is None:
        return ""
    return str(value)  # TSV keeps full N-Triples / lexical terms


def _csv_doc(p: Prepared) -> str:
    """SPARQL 1.1 CSV results: plain values (IRIs bare, literal labels)."""
    lines = [",".join(p.cols)]
    for row in p.frame.collect():
        lines.append(",".join(_csv_cell(row[c]) for c in p.cols))
    return "\r\n".join(lines) + "\r\n"


def _tsv_doc(p: Prepared) -> str:
    """SPARQL 1.1 TSV results: full term syntax, ?-prefixed header."""
    lines = ["\t".join("?" + c for c in p.cols)]
    for row in p.frame.collect():
        lines.append("\t".join(_tsv_cell(row[c]) for c in p.cols))
    return "\n".join(lines) + "\n"


def results_json(df: DataFrame, limit: int = 10000) -> dict:
    return _json_doc(prepare(df, limit))


def results_xml(df: DataFrame, limit: int = 10000) -> str:
    return _xml_doc(prepare(df, limit))


def results_csv(df: DataFrame, limit: int = 10000) -> str:
    return _csv_doc(prepare(df, limit))


def results_tsv(df: DataFrame, limit: int = 10000) -> str:
    return _tsv_doc(prepare(df, limit))


# media type -> renderer of a Prepared result
_FORMATS = {
    RESULTS_JSON: lambda p: json.dumps(_json_doc(p)),
    RESULTS_XML: _xml_doc,
    RESULTS_CSV: _csv_doc,
    RESULTS_TSV: _tsv_doc,
    "application/json": lambda p: json.dumps(_json_doc(p)),
}


def pick_format(accept: str | None) -> tuple[str, "callable"]:
    """Accept-header negotiation (HttpSparqlHandler honors the RDF4J
    result-writer registry the same way); default = JSON."""
    for part in (accept or "").split(","):
        mt = part.split(";")[0].strip().lower()
        if mt in _FORMATS:
            return mt, _FORMATS[mt]
    return RESULTS_JSON, _FORMATS[RESULTS_JSON]


def load_stored_queries(path: str) -> dict[str, str]:
    """Read a stored-queries property file (name=SPARQL text, ``#``
    comments, trailing-backslash line continuations) — the same shape
    the reference's endpoint takes via ``-q`` (HalyardEndpoint.java:70-74
    loads a java.util.Properties file of pre-defined templates)."""
    out: dict[str, str] = {}
    pending = ""
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = pending + raw.rstrip("\n")
            pending = ""
            if not line.strip() or line.lstrip().startswith(("#", "!")):
                continue
            if line.endswith("\\") and not line.endswith("\\\\"):
                pending = line[:-1]
                continue
            key, sep, value = line.partition("=")
            if sep:
                out[key.strip()] = value.strip().replace("\\n", "\n")
    if pending:
        key, sep, value = pending.partition("=")
        if sep:
            out[key.strip()] = value.strip().replace("\\n", "\n")
    return out


# SPARQL-protocol parameter names that are NOT stored-query template
# parameters (the reference treats exactly query/defaultGraph/namedGraph
# as protocol-level, HttpSparqlHandler.parseParameter:294-314)
_PROTOCOL_PARAMS = {"query", "update", "default-graph-uri", "named-graph-uri"}

# paths that address the service itself rather than a stored query (the
# reference serves at "/"; this repo's historical convention adds /sparql)
_SERVICE_ROOTS = ("", "/", "/sparql")


def substitute_params(query: str, params: dict[str, list[str]] | None) -> str:
    """Replace ``{{name}}`` tokens with the request's parameter values —
    the reference's template mechanism (HttpSparqlHandler.java:468-488:
    StringUtils.replaceEach over ``{{name}}`` tokens)."""
    if not params:
        return query
    for name, values in params.items():
        if name in _PROTOCOL_PARAMS or not values:
            continue
        query = query.replace("{{" + name + "}}", values[0])
    return query


class _PlanCache:
    """LRU of Prepared results for one store snapshot (module docstring,
    "Plan cache").  One lock guards the dict; plans run outside it."""

    def __init__(self, size: int):
        self.size = size
        self._lock = threading.Lock()
        self._entries: OrderedDict = OrderedDict()
        self._snapshot = None
        self.counts = dict.fromkeys(("hits", "misses", "evictions", "volatile", "duplicates"), 0)

    def _sync(self, snapshot: DataFrame) -> None:
        """Under the lock: a snapshot other than the one the entries were
        planned on empties the cache."""
        if snapshot is not self._snapshot:
            self._entries.clear()
            self._snapshot = snapshot

    def get(self, key, snapshot: DataFrame) -> Prepared | None:
        with self._lock:
            self._sync(snapshot)
            prep = self._entries.get(key)
            if prep is None:
                self.counts["misses"] += 1
            else:
                self._entries.move_to_end(key)
                self.counts["hits"] += 1
            return prep

    def put(self, key, snapshot: DataFrame, prep: Prepared, volatile: bool) -> None:
        """Keep a result whose first collect() succeeded, unless its plan
        is volatile or ``snapshot`` is no longer the current one."""
        with self._lock:
            if volatile:
                self.counts["volatile"] += 1
                return
            if snapshot is not self._snapshot:
                return
            if key in self._entries:  # a concurrent miss planned it too
                self.counts["duplicates"] += 1
            self._entries[key] = prep
            self._entries.move_to_end(key)
            while len(self._entries) > self.size:
                self._entries.popitem(last=False)
                self.counts["evictions"] += 1

    def drop(self, key, prep: Prepared) -> None:
        """Forget ``prep`` after a re-execution of it failed."""
        with self._lock:
            if self._entries.get(key) is prep:
                del self._entries[key]

    def status(self, snapshot: DataFrame) -> dict:
        with self._lock:
            self._sync(snapshot)
            return {"entries": len(self._entries), "bound": self.size, **self.counts}


class SparqlEndpoint:
    """Serve SPARQL over HTTP for one triples DataFrame.

    stored: name -> SPARQL template, addressable at /<name> (optional
    extension stripped) or /stored/<name>, with {{param}} substitution
    from extra request parameters — the reference's stored-queries
    feature (HttpSparqlHandler.java:177-193,468-488).
    """

    def __init__(
        self,
        triples: DataFrame,
        port: int = 0,
        stored: dict[str, str] | None = None,
        services: dict[str, DataFrame] | None = None,
    ):
        self.triples = triples
        self.stored = dict(stored or {})
        self.services = dict(services or {})
        # serializes update read-modify-swap: ThreadingHTTPServer handles
        # each request on its own thread, so two concurrent updates could
        # otherwise both read the old snapshot and silently lose one
        self._update_lock = threading.Lock()
        self._plans = _PlanCache(PLAN_CACHE_ENTRIES)
        ep = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _send(self, code: int, mtype: str, payload: bytes) -> None:
                self.send_response(code)
                self.send_header("Content-Type", mtype)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def _error(self, code: int, message: str) -> None:
                """The status line keeps the standard reason phrase and the
                message goes in a UTF-8 body: http.server writes a reason
                as one Latin-1 line, and SPARQL text and Java errors are
                neither."""
                self._send(code, "text/plain; charset=utf-8", message[:500].encode())

            def _fail(self, exc: Exception) -> None:
                """The one status rule for query and update: a parse error
                or planner rejection is the client's (400), any other
                failure the server's (500).  The reference endpoint answers
                errors, never drops the connection."""
                client = isinstance(exc, (SyntaxError, ValueError))
                self._error(400 if client else 500, str(exc))

            def _apply_update(self, update_text: str) -> None:
                """Run a SPARQL UPDATE under the endpoint lock."""
                try:
                    with ep._update_lock:
                        # localCheckpoint RETURNS the pinned frame — assign
                        # it, or the snapshot keeps the full lazy plan (and
                        # every update stacks another plan layer on top)
                        ep.triples = sparql_update(ep.triples, update_text).localCheckpoint(
                            eager=True
                        )
                except Exception as exc:
                    self._fail(exc)
                    return
                self.send_response(204)
                self.end_headers()

            def _resolve_stored(self, path: str) -> str | None:
                """Reference lookup order: exact name, then name with the
                extension cut (HttpSparqlHandler.java:179-187)."""
                name = path[len("/stored/"):] if path.startswith("/stored/") else path.lstrip("/")
                if name in ep.stored:
                    return ep.stored[name]
                i = name.rfind(".")
                if i > 0 and name[:i] in ep.stored:
                    return ep.stored[name[:i]]
                return None

            def _answer(self, query: str | None, params: dict | None = None):
                if not query:
                    self._error(400, "missing query")
                    return
                query = substitute_params(query, params)
                # SPARQL protocol dataset parameters override the query's
                # own FROM / FROM NAMED (HttpSparqlHandler honors the same
                # precedence through the RDF4J Dataset)
                dataset = None
                if params and ("default-graph-uri" in params or "named-graph-uri" in params):
                    dataset = (
                        [f"<{u}>" for u in params.get("default-graph-uri", [])] or None,
                        [f"<{u}>" for u in params.get("named-graph-uri", [])] or None,
                    )
                mtype, render = pick_format(self.headers.get("Accept"))
                key = (query, repr(dataset))
                triples = ep.triples
                prep = ep._plans.get(key, triples)
                hit = prep is not None
                try:
                    if not hit:
                        df, volatile = plan_query(
                            triples, query, services=ep.services, dataset=dataset
                        )
                        prep = prepare(df)
                    payload = render(prep).encode()
                except Exception as exc:
                    if hit:
                        ep._plans.drop(key, prep)
                    self._fail(exc)
                    return
                if not hit:
                    ep._plans.put(key, triples, prep, volatile)
                self._send(200, mtype, payload)

            def do_GET(self):
                parsed = urllib.parse.urlparse(self.path)
                params = urllib.parse.parse_qs(parsed.query)
                if parsed.path not in _SERVICE_ROOTS:
                    q = self._resolve_stored(parsed.path)
                    if q is None and parsed.path == "/status":
                        counts = ep._plans.status(ep.triples)
                        self._send(200, "application/json", json.dumps(counts).encode())
                        return
                    if q is None:
                        self._error(400, f"No stored query for path: {parsed.path}")
                        return
                    self._answer(q, params)
                    return
                self._answer((params.get("query") or [None])[0], params)

            def do_POST(self):
                parsed = urllib.parse.urlparse(self.path)
                length = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(length).decode()
                ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip()
                if parsed.path not in _SERVICE_ROOTS:
                    # stored query addressed by path; form/query params may
                    # still carry template parameters (reference: stored
                    # query + parseParameter on the remaining params)
                    q = self._resolve_stored(parsed.path)
                    if q is None:
                        self._error(400, f"No stored query for path: {parsed.path}")
                        return
                    params = urllib.parse.parse_qs(parsed.query)
                    if ctype == "application/x-www-form-urlencoded":
                        for k, v in urllib.parse.parse_qs(body).items():
                            params.setdefault(k, []).extend(v)
                    self._answer(q, params)
                    return
                if ctype == "application/sparql-query":
                    self._answer(body)
                elif ctype == "application/sparql-update":
                    # SPARQL 1.1 protocol update operation: apply the staged
                    # update and swap the endpoint's snapshot (the
                    # reference's endpoint runs updates through the same
                    # handler, HttpSparqlHandler.java)
                    self._apply_update(body)
                else:  # form-encoded (the SPARQL protocol's other POST form)
                    params = urllib.parse.parse_qs(body)
                    q = (params.get("query") or [None])[0]
                    u = (params.get("update") or [None])[0]
                    if u is not None and q is None:
                        self._apply_update(u)
                        return
                    self._answer(q, params)

        self.server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self.server.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "SparqlEndpoint":
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
