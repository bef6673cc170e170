"""HTTP SPARQL protocol endpoint — thin server over the text front-end.

The reference ships a lightweight com.sun.net.httpserver-based endpoint
(tools/.../HttpSparqlHandler.java:56-180, HalyardEndpoint.java): GET with
?query=, POST with application/sparql-query or form-encoded query, plus
STORED QUERIES addressable by path.  This is the same surface on Python's
stdlib http.server, evaluating through query/sparql.sparql_select and
answering in the SPARQL 1.1 Query Results JSON Format.

A thin server is the right shape here: query execution happens in Spark
(the driver holds the SparkSession); the endpoint only parses protocol.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halyard_spark import nt
from halyard_spark.query.exprs import as_term
from halyard_spark.query.sparql import sparql_select, sparql_update

RESULTS_JSON = "application/sparql-results+json"
RESULTS_XML = "application/sparql-results+xml"
RESULTS_CSV = "text/csv"
RESULTS_TSV = "text/tab-separated-values"


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


def _is_ask(df: DataFrame) -> bool:
    """ASK results are a single BOOLEAN `ask` column; a SELECT projecting
    a term variable that happens to be named ?ask stays tabular."""
    from pyspark.sql.types import BooleanType

    return df.columns == ["ask"] and isinstance(
        df.schema[0].dataType, BooleanType
    )


def _term_rows(df: DataFrame, limit: int) -> list:
    """Collect up to ``limit`` solutions as RDF terms.  Computed columns
    (aggregates, arithmetic, comparisons) keep their native Spark type
    until here and render through as_term, so a COUNT answers
    "2"^^xsd:integer and a comparison "true"^^xsd:boolean; an
    all-string result keeps its plan."""
    if any(t != "string" for _, t in df.dtypes):
        df = df.select(*[as_term(F.col(c), t).alias(c) for c, t in df.dtypes])
    return df.limit(limit).collect()


def results_json(df: DataFrame, limit: int = 10000) -> dict:
    cols = df.columns
    if _is_ask(df):  # ASK answers use the boolean result form
        return {"head": {}, "boolean": bool(df.collect()[0]["ask"])}
    bindings = []
    for row in _term_rows(df, limit):
        b = {}
        for c in cols:
            j = binding_json(row[c])
            if j is not None:
                b[c] = j
        bindings.append(b)
    return {"head": {"vars": cols}, "results": {"bindings": bindings}}


def results_xml(df: DataFrame, limit: int = 10000) -> str:
    """SPARQL 1.1 Query Results XML Format."""
    from xml.sax.saxutils import escape as x

    cols = df.columns
    out = ['<?xml version="1.0"?>', '<sparql xmlns="http://www.w3.org/2005/sparql-results#">']
    if _is_ask(df):
        out += ["<head/>", f"<boolean>{'true' if df.collect()[0]['ask'] else 'false'}</boolean>", "</sparql>"]
        return "\n".join(out)
    out.append("<head>" + "".join(f'<variable name="{x(c)}"/>' for c in cols) + "</head>")
    out.append("<results>")
    for row in _term_rows(df, limit):
        cells = []
        for c in cols:
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


def results_csv(df: DataFrame, limit: int = 10000) -> str:
    """SPARQL 1.1 CSV results: plain values (IRIs bare, literal labels)."""
    cols = df.columns
    lines = [",".join(cols)]
    for row in _term_rows(df, limit):
        lines.append(",".join(_csv_cell(row[c]) for c in cols))
    return "\r\n".join(lines) + "\r\n"


def results_tsv(df: DataFrame, limit: int = 10000) -> str:
    """SPARQL 1.1 TSV results: full term syntax, ?-prefixed header."""
    cols = df.columns
    lines = ["\t".join("?" + c for c in cols)]
    for row in _term_rows(df, limit):
        lines.append("\t".join(_tsv_cell(row[c]) for c in cols))
    return "\n".join(lines) + "\n"


_FORMATS = {
    RESULTS_JSON: lambda df: json.dumps(results_json(df)),
    RESULTS_XML: results_xml,
    RESULTS_CSV: results_csv,
    RESULTS_TSV: results_tsv,
    "application/json": lambda df: json.dumps(results_json(df)),
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
        ep = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _fail(self, exc: Exception) -> None:
                """The one status rule for query and update: a parse error
                or planner rejection is the client's (400), any other
                failure the server's (500).  The reference endpoint answers
                errors, never drops the connection."""
                client = isinstance(exc, (SyntaxError, ValueError))
                self.send_error(400 if client else 500, str(exc)[:500])

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
                    self.send_error(400, "missing query")
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
                mtype, serialize = pick_format(self.headers.get("Accept"))
                try:
                    df = sparql_select(
                        ep.triples, query, services=ep.services, dataset=dataset
                    )
                    payload = serialize(df).encode()
                except Exception as exc:
                    self._fail(exc)
                    return
                self.send_response(200)
                self.send_header("Content-Type", mtype)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def do_GET(self):
                parsed = urllib.parse.urlparse(self.path)
                params = urllib.parse.parse_qs(parsed.query)
                if parsed.path not in _SERVICE_ROOTS:
                    q = self._resolve_stored(parsed.path)
                    if q is None:
                        self.send_error(
                            400, f"No stored query for path: {parsed.path}"
                        )
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
                        self.send_error(400, f"No stored query for path: {parsed.path}")
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
