"""HTTP SPARQL endpoint protocol tests (HttpSparqlHandler analog)."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from halyard_spark import nt
from halyard_spark.endpoint import SparqlEndpoint


@pytest.fixture(scope="module")
def ep(spark):
    rows = [
        ("<urn:a>", "<urn:p:name>", nt.lit("Ada"), None),
        ("<urn:b>", "<urn:p:name>", nt.lit("Bo", lang="en"), None),
        ("<urn:a>", "<urn:p:next>", "<urn:b>", None),
    ]
    g = spark.createDataFrame(rows, "subj string, pred string, obj string, ctx string")
    endpoint = SparqlEndpoint(
        g, stored={"names": "SELECT ?s ?n WHERE { ?s <urn:p:name> ?n }"}
    ).start()
    yield endpoint
    endpoint.stop()


def _get(url):
    with urllib.request.urlopen(url, timeout=60) as r:
        assert r.headers["Content-Type"].startswith("application/sparql-results+json")
        return json.load(r)


def test_get_query(ep):
    q = "SELECT ?s ?n WHERE { ?s <urn:p:name> ?n }"
    data = _get(f"http://127.0.0.1:{ep.port}/sparql?query=" + urllib.parse.quote(q))
    assert data["head"]["vars"] == ["s", "n"]
    got = {(b["s"]["value"], b["n"]["value"]) for b in data["results"]["bindings"]}
    assert got == {("urn:a", "Ada"), ("urn:b", "Bo")}
    types = {b["s"]["type"] for b in data["results"]["bindings"]}
    assert types == {"uri"}
    langs = {b["n"].get("xml:lang") for b in data["results"]["bindings"]}
    assert langs == {None, "en"}


def test_post_sparql_query_and_form(ep):
    q = "SELECT ?o WHERE { <urn:a> <urn:p:next> ?o }"
    req = urllib.request.Request(
        f"http://127.0.0.1:{ep.port}/sparql",
        data=q.encode(),
        headers={"Content-Type": "application/sparql-query"},
    )
    with urllib.request.urlopen(req, timeout=60) as r:
        data = json.load(r)
    assert data["results"]["bindings"][0]["o"] == {"type": "uri", "value": "urn:b"}

    form = urllib.parse.urlencode({"query": q}).encode()
    req2 = urllib.request.Request(
        f"http://127.0.0.1:{ep.port}/sparql",
        data=form,
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req2, timeout=60) as r:
        data2 = json.load(r)
    assert data2 == data


def test_stored_query(ep):
    data = _get(f"http://127.0.0.1:{ep.port}/stored/names")
    assert len(data["results"]["bindings"]) == 2


def test_bad_query_is_protocol_error(ep):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"http://127.0.0.1:{ep.port}/sparql?query=" + urllib.parse.quote("SELECT ("))
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e2:
        _get(f"http://127.0.0.1:{ep.port}/sparql")
    assert e2.value.code == 400


def test_endpoint_dataset_params(spark):
    """SPARQL protocol default-graph-uri restricts the query's dataset."""
    import json as _json
    import urllib.parse
    import urllib.request

    from halyard_spark import nt
    from halyard_spark.endpoint import SparqlEndpoint

    g = spark.createDataFrame(
        [
            ("<urn:a>", "<urn:p>", nt.lit("1"), "<urn:g1>"),
            ("<urn:b>", "<urn:p>", nt.lit("2"), "<urn:g2>"),
        ],
        "subj string, pred string, obj string, ctx string",
    )
    ep = SparqlEndpoint(g).start()
    try:
        q = urllib.parse.quote("SELECT ?s WHERE { ?s <urn:p> ?o }")
        dg = urllib.parse.quote("urn:g1")
        with urllib.request.urlopen(
            f"http://127.0.0.1:{ep.port}/sparql?query={q}&default-graph-uri={dg}"
        ) as resp:
            body = _json.loads(resp.read())
        got = {b["s"]["value"] for b in body["results"]["bindings"]}
        assert got == {"urn:a"}
    finally:
        ep.stop()


def test_endpoint_sparql_update(spark):
    """POST application/sparql-update mutates the endpoint's store."""
    import json as _json
    import urllib.parse
    import urllib.request

    from halyard_spark import nt
    from halyard_spark.endpoint import SparqlEndpoint

    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", nt.lit("old"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    ep = SparqlEndpoint(g).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{ep.port}/sparql",
            data=b'DELETE WHERE { ?s <urn:p> "old" } ; INSERT DATA { <urn:b> <urn:p> "new" }',
            headers={"Content-Type": "application/sparql-update"},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 204
        q = urllib.parse.quote("SELECT ?s ?o WHERE { ?s <urn:p> ?o }")
        with urllib.request.urlopen(f"http://127.0.0.1:{ep.port}/sparql?query={q}") as resp:
            body = _json.loads(resp.read())
        got = {(b["s"]["value"], b["o"]["value"]) for b in body["results"]["bindings"]}
        assert got == {("urn:b", "new")}
    finally:
        ep.stop()


def test_endpoint_update_over_store_handle_reads_its_write(spark, tmp_path):
    """An endpoint serving a load_dataset store handle applies an UPDATE
    and answers the next query from the updated snapshot, which is a
    plain frame: the point lookup that scanned POS before the update
    sees the inserted and deleted quads after it."""
    import json as _json
    import urllib.parse
    import urllib.request

    from halyard_spark.endpoint import SparqlEndpoint
    from halyard_spark.pipeline import materialize
    from halyard_spark.pipeline.rdfload import load_dataset

    rows = [(f"<urn:s{i}>", "<urn:p>", f"<urn:o{i % 3}>", None) for i in range(9)]
    materialize.write_store(
        spark.createDataFrame(rows, "subj string, pred string, obj string, ctx string"), str(tmp_path)
    )
    ep = SparqlEndpoint(load_dataset(spark, str(tmp_path))).start()

    def subjects() -> set[str]:
        q = urllib.parse.quote("SELECT ?s WHERE { ?s <urn:p> <urn:o0> }")
        with urllib.request.urlopen(f"http://127.0.0.1:{ep.port}/sparql?query={q}") as resp:
            return {b["s"]["value"] for b in _json.loads(resp.read())["results"]["bindings"]}

    try:
        assert subjects() == {"urn:s0", "urn:s3", "urn:s6"}
        req = urllib.request.Request(
            f"http://127.0.0.1:{ep.port}/sparql",
            data=b"DELETE DATA { <urn:s3> <urn:p> <urn:o0> } ; INSERT DATA { <urn:s9> <urn:p> <urn:o0> }",
            headers={"Content-Type": "application/sparql-update"},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 204
        assert subjects() == {"urn:s0", "urn:s6", "urn:s9"}
    finally:
        ep.stop()


def test_endpoint_update_errors_are_http_errors(spark):
    """UPDATE errors take the query status rule — never a dropped
    connection (ADVICE regression): a parse error or planner rejection
    (SyntaxError / ValueError) answers 400, a failure while running
    answers 500."""
    import urllib.error
    import urllib.request

    from halyard_spark import nt
    from halyard_spark.endpoint import SparqlEndpoint

    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", nt.lit("v"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    ep = SparqlEndpoint(g).start()
    try:
        def post(body: bytes) -> int:
            req = urllib.request.Request(
                f"http://127.0.0.1:{ep.port}/sparql",
                data=body,
                headers={"Content-Type": "application/sparql-update"},
                method="POST",
            )
            try:
                with urllib.request.urlopen(req) as resp:
                    return resp.status
            except urllib.error.HTTPError as exc:
                return exc.code

        assert post(b"THIS IS NOT SPARQL {") == 400
        # parses, but the planner rejects the unknown extension function
        # (ValueError), as it does for the same WHERE in a SELECT
        assert post(
            b"PREFIX ex: <urn:ex:> INSERT { ?s <urn:q> ?o } "
            b"WHERE { ?s ?p ?o FILTER(ex:nofn(?o)) }"
        ) == 400
        # Spark cannot read the nonexistent document: an
        # AnalysisException, not a planner rejection, so the server's 500
        assert post(b"LOAD <file:///nonexistent/x.nt>") == 500
        # the store is untouched after all three failures
        assert ep.triples.count() == 1
    finally:
        ep.stop()


def test_endpoint_concurrent_updates_serialize(spark):
    """Two racing INSERTs must both land (read-modify-swap under the
    endpoint's update lock; last-write-wins lost one before)."""
    import threading
    import urllib.request

    from halyard_spark import nt
    from halyard_spark.endpoint import SparqlEndpoint

    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", nt.lit("v"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    ep = SparqlEndpoint(g).start()
    try:
        def ins(i: int):
            body = f"INSERT DATA {{ <urn:new{i}> <urn:p> \"x{i}\" }}".encode()
            req = urllib.request.Request(
                f"http://127.0.0.1:{ep.port}/sparql",
                data=body,
                headers={"Content-Type": "application/sparql-update"},
                method="POST",
            )
            with urllib.request.urlopen(req) as resp:
                assert resp.status == 204

        threads = [threading.Thread(target=ins, args=(i,)) for i in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert ep.triples.count() == 5  # original + all 4 inserts
    finally:
        ep.stop()


def test_endpoint_result_format_negotiation(spark):
    """Accept-header negotiation: XML / CSV / TSV result formats (the
    SPARQL 1.1 result serializations HttpSparqlHandler serves via the
    RDF4J writer registry); default stays JSON."""
    import urllib.parse
    import urllib.request

    from halyard_spark import nt
    from halyard_spark.endpoint import SparqlEndpoint

    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", nt.lit("v,1", lang="en"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    ep = SparqlEndpoint(g).start()
    try:
        q = urllib.parse.quote("SELECT ?s ?o WHERE { ?s <urn:p> ?o }")
        url = f"http://127.0.0.1:{ep.port}/sparql?query={q}"

        def get(accept):
            req = urllib.request.Request(url, headers={"Accept": accept})
            with urllib.request.urlopen(req) as resp:
                return resp.headers.get("Content-Type"), resp.read().decode()

        ct, body = get("application/sparql-results+xml")
        assert ct == "application/sparql-results+xml"
        assert '<variable name="s"/>' in body
        assert '<literal xml:lang="en">v,1</literal>' in body
        assert "<uri>urn:a</uri>" in body

        ct, body = get("text/csv")
        assert ct == "text/csv"
        assert body.splitlines()[0] == "s,o"
        assert '"v,1"' in body  # comma-containing value quoted, plain label

        ct, body = get("text/tab-separated-values")
        assert ct == "text/tab-separated-values"
        assert body.splitlines()[0] == "?s\t?o"
        assert '"v,1"@en' in body  # TSV keeps full term syntax

        ct, body = get("application/sparql-results+json")
        assert ct == "application/sparql-results+json"
        # unknown Accept falls back to JSON
        ct, _ = get("application/weird")
        assert ct == "application/sparql-results+json"

        # ASK in XML boolean form
        qa = urllib.parse.quote("ASK { ?s <urn:p> ?o }")
        req = urllib.request.Request(
            f"http://127.0.0.1:{ep.port}/sparql?query={qa}",
            headers={"Accept": "application/sparql-results+xml"},
        )
        with urllib.request.urlopen(req) as resp:
            assert "<boolean>true</boolean>" in resp.read().decode()
    finally:
        ep.stop()


def test_endpoint_update_snapshot_is_pinned(spark):
    """After an update the endpoint snapshot must be the CHECKPOINTED
    frame (localCheckpoint returns a new DataFrame): the plan must not
    stack update history, and deleting a LOADed source file must not
    break later queries (code-review regression)."""
    import urllib.request

    from halyard_spark import nt
    from halyard_spark.endpoint import SparqlEndpoint

    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", nt.lit("v"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    ep = SparqlEndpoint(g).start()
    try:
        for i in range(3):
            req = urllib.request.Request(
                f"http://127.0.0.1:{ep.port}/sparql",
                data=f'INSERT DATA {{ <urn:n{i}> <urn:p> "x{i}" }}'.encode(),
                headers={"Content-Type": "application/sparql-update"},
                method="POST",
            )
            with urllib.request.urlopen(req) as resp:
                assert resp.status == 204
        plan = ep.triples._jdf.queryExecution().optimizedPlan().toString()
        # a pinned snapshot is a LogicalRDD/checkpoint scan, not a stack
        # of three unions over the original frame
        assert "LogicalRDD" in plan or "Checkpoint" in plan, plan
        assert plan.count("Union") == 0, plan
        assert ep.triples.count() == 4
    finally:
        ep.stop()


def test_stored_query_root_path_and_extension_cut(ep):
    """Reference path addressing (HttpSparqlHandler.java:177-193): any
    non-service path names a stored query; unknown extension is cut."""
    data = _get(f"http://127.0.0.1:{ep.port}/names")
    assert len(data["results"]["bindings"]) == 2
    data2 = _get(f"http://127.0.0.1:{ep.port}/names.json")
    assert data2 == data
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"http://127.0.0.1:{ep.port}/no_such_template")
    assert e.value.code == 400


def test_stored_query_template_parameters(spark):
    """{{param}} substitution from request parameters
    (HttpSparqlHandler.java:468-488)."""
    rows = [
        ("<urn:a>", "<urn:p:name>", nt.lit("Ada"), None),
        ("<urn:b>", "<urn:p:name>", nt.lit("Bo"), None),
    ]
    g = spark.createDataFrame(rows, "subj string, pred string, obj string, ctx string")
    endpoint = SparqlEndpoint(
        g,
        stored={"by_subj": "SELECT ?n WHERE { <{{subj}}> <urn:p:name> ?n }"},
    ).start()
    try:
        data = _get(
            f"http://127.0.0.1:{endpoint.port}/by_subj?subj="
            + urllib.parse.quote("urn:a")
        )
        vals = [b["n"]["value"] for b in data["results"]["bindings"]]
        assert vals == ["Ada"]
        # POST form params substitute too
        req = urllib.request.Request(
            f"http://127.0.0.1:{endpoint.port}/by_subj",
            data=urllib.parse.urlencode({"subj": "urn:b"}).encode(),
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            data2 = json.load(r)
        assert [b["n"]["value"] for b in data2["results"]["bindings"]] == ["Bo"]
    finally:
        endpoint.stop()


def test_load_stored_queries_property_file(tmp_path):
    from halyard_spark.endpoint import load_stored_queries

    p = tmp_path / "queries.properties"
    p.write_text(
        "# stored templates (HalyardEndpoint -q property file)\n"
        "names=SELECT ?s ?n WHERE { ?s <urn:p:name> ?n }\n"
        "my_describe_query=describe <{{my_parameter}}>\n"
        "long=SELECT ?s \\\n"
        "WHERE { ?s ?p ?o }\n"
        "\n"
        "! also a comment\n"
    )
    qs = load_stored_queries(str(p))
    assert qs["names"].startswith("SELECT ?s ?n")
    assert qs["my_describe_query"] == "describe <{{my_parameter}}>"
    assert qs["long"] == "SELECT ?s WHERE { ?s ?p ?o }"
    assert len(qs) == 3


def test_evaluation_failure_is_server_error(spark, tmp_path):
    """A query that parses and plans but fails while running answers 500;
    a planner rejection or a builtin called with the wrong arity stays a
    400 protocol error."""
    import shutil

    svc_dir = str(tmp_path / "svc")
    spark.createDataFrame(
        [("<urn:a>", "<urn:p>", "<urn:b>", None)],
        "subj string, pred string, obj string, ctx string",
    ).write.parquet(svc_dir)
    svc = spark.read.parquet(svc_dir)
    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", "<urn:c>", None)],
        "subj string, pred string, obj string, ctx string",
    )
    endpoint = SparqlEndpoint(g, services={"urn:svc": svc}).start()
    try:
        def status(q: str) -> int:
            try:
                _get(f"http://127.0.0.1:{endpoint.port}/sparql?query=" + urllib.parse.quote(q))
            except urllib.error.HTTPError as exc:
                return exc.code
            return 200

        q = "SELECT ?o WHERE { SERVICE <urn:svc> { <urn:a> <urn:p> ?o } }"
        assert status(q) == 200
        shutil.rmtree(svc_dir)  # the federated store's files are gone
        assert status(q) == 500
        assert status(q.replace("urn:svc", "urn:unregistered")) == 400
        assert status("SELECT (STRLEN(?o) AS ?x) WHERE { ?s ?p ?o }") == 200
        assert status("SELECT (STRLEN() AS ?x) WHERE { ?s ?p ?o }") == 400
    finally:
        endpoint.stop()


def test_endpoint_computed_values_are_typed_terms(spark):
    """Aggregates and comparisons keep native Spark types in the plan;
    every result format renders them as typed literals (an integral
    COUNT is xsd:integer, AVG xsd:double, a comparison the xsd:boolean
    lexical "true", not Python's "True")."""
    xsd = nt.XSD
    g = spark.createDataFrame(
        [("<urn:a>", "<urn:p>", nt.lit("1", dtype=xsd + "integer"), None),
         ("<urn:b>", "<urn:p>", nt.lit("4", dtype=xsd + "integer"), None)],
        "subj string, pred string, obj string, ctx string",
    )
    ep = SparqlEndpoint(g).start()
    try:
        q = urllib.parse.quote(
            "SELECT (COUNT(?s) AS ?n) (AVG(?o) AS ?avg) (SUM(?o) > 3 AS ?big) "
            "WHERE { ?s <urn:p> ?o }"
        )
        url = f"http://127.0.0.1:{ep.port}/sparql?query={q}"

        def get(accept):
            req = urllib.request.Request(url, headers={"Accept": accept})
            with urllib.request.urlopen(req, timeout=60) as resp:
                return resp.read().decode()

        (b,) = json.loads(get("application/sparql-results+json"))["results"]["bindings"]
        assert b == {
            "n": {"type": "literal", "value": "2", "datatype": xsd + "integer"},
            "avg": {"type": "literal", "value": "2.5", "datatype": xsd + "double"},
            "big": {"type": "literal", "value": "true", "datatype": xsd + "boolean"},
        }
        body = get("application/sparql-results+xml")
        assert f'<literal datatype="{xsd}integer">2</literal>' in body
        assert f'<literal datatype="{xsd}double">2.5</literal>' in body
        assert f'<literal datatype="{xsd}boolean">true</literal>' in body
        assert get("text/csv").splitlines()[1] == "2,2.5,true"
        assert get("text/tab-separated-values").splitlines()[1] == "\t".join([
            f'"2"^^<{xsd}integer>', f'"2.5"^^<{xsd}double>', f'"true"^^<{xsd}boolean>',
        ])
    finally:
        ep.stop()
