"""The endpoint's plan cache: one prepared result per query text and
dataset, kept for one store snapshot (``endpoint`` module docstring,
"Plan cache")."""

from __future__ import annotations

import json
import shutil
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from halyard_spark import endpoint as endpoint_mod
from halyard_spark.endpoint import (
    SparqlEndpoint,
    results_csv,
    results_json,
    results_tsv,
    results_xml,
)
from halyard_spark.query.sparql import sparql_query

JOIN = (
    "SELECT ?f ?k WHERE {{ ?f <urn:p:imports> <urn:m{m}> . "
    "?f <urn:p:definesClass> ?k . ?f <urn:p:inRepo> ?r }}"
)
FORMATS = {
    "application/sparql-results+json": lambda df: json.dumps(results_json(df)),
    "application/sparql-results+xml": results_xml,
    "text/csv": results_csv,
    "text/tab-separated-values": results_tsv,
}


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """The kgbench join shape on a small load_dataset store: 40 files,
    each importing two of 5 modules, defining one class, in one repo."""
    from halyard_spark.pipeline import materialize
    from halyard_spark.pipeline.rdfload import load_dataset

    rows = []
    for i in range(40):
        f = f"<urn:f{i}>"
        rows += [
            (f, "<urn:p:imports>", f"<urn:m{i % 5}>", "<urn:g>"),
            (f, "<urn:p:imports>", f"<urn:m{(i + 1) % 5}>", "<urn:g>"),
            (f, "<urn:p:definesClass>", f"<urn:k{i}>", "<urn:g>"),
            (f, "<urn:p:inRepo>", f"<urn:r{i % 3}>", "<urn:g>"),
        ]
    path = str(tmp_path_factory.mktemp("plan_cache_store"))
    materialize.write_store(
        spark.createDataFrame(rows, "subj string, pred string, obj string, ctx string"), path
    )
    return load_dataset(spark, path)


@pytest.fixture
def ep(store):
    endpoint = SparqlEndpoint(store).start()
    yield endpoint
    endpoint.stop()


def _call(ep, query: str, accept: str = "application/sparql-results+json") -> tuple[int, str, str]:
    """POST one query: (status, reason phrase, body)."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{ep.port}/sparql",
        data=query.encode(),
        headers={"Content-Type": "application/sparql-query", "Accept": accept},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, resp.reason, resp.read().decode()
    except urllib.error.HTTPError as exc:
        return exc.code, exc.reason, exc.read().decode()


def _rows(ep, query: str) -> list:
    status, _, body = _call(ep, query)
    assert status == 200, body
    return sorted(json.dumps(b, sort_keys=True) for b in json.loads(body)["results"]["bindings"])


def _status(ep) -> dict:
    with urllib.request.urlopen(f"http://127.0.0.1:{ep.port}/status", timeout=60) as resp:
        return json.loads(resp.read())


def _update(ep, update: str) -> None:
    req = urllib.request.Request(
        f"http://127.0.0.1:{ep.port}/sparql",
        data=update.encode(),
        headers={"Content-Type": "application/sparql-update"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        assert resp.status == 204


def _lines(body: str) -> list:
    """A result document's lines, order-free (row order is the plan's)."""
    return sorted(body.splitlines())


def test_hit_answers_like_a_fresh_plan_in_every_format(spark, store, ep, monkeypatch):
    """After one miss, each format answers from the cached plan with the
    bindings a fresh plan renders, and a hit makes a handful of py4j
    commands (a miss of this shape makes over a hundred)."""
    q = JOIN.format(m=1)
    assert _call(ep, q)[0] == 200
    for accept, render in FORMATS.items():
        status, _, body = _call(ep, q, accept)
        assert status == 200, body
        assert _lines(body) == _lines(render(sparql_query(store, q))), accept
    assert _status(ep) == {"entries": 1, "bound": endpoint_mod.PLAN_CACHE_ENTRIES, "hits": 4,
                           "misses": 1, "evictions": 0, "volatile": 0, "duplicates": 0}

    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counted(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    assert _call(ep, q)[0] == 200
    hit = len(sent)
    del sent[:]
    assert _call(ep, JOIN.format(m=2))[0] == 200
    monkeypatch.undo()
    assert 0 < hit <= 12, hit
    assert len(sent) > 5 * hit, (hit, len(sent))


def test_update_empties_the_cache_and_the_query_sees_the_write(ep):
    """An UPDATE swaps the snapshot: the same SELECT plans again over the
    new store and sees the inserted file; so does a caller's own
    assignment of ``ep.triples``."""
    q = JOIN.format(m=4)
    before = _rows(ep, q)
    assert len(before) == 16
    assert _rows(ep, q) == before
    _update(ep, "INSERT DATA { GRAPH <urn:g> { <urn:new> <urn:p:imports> <urn:m4> . "
                "<urn:new> <urn:p:definesClass> <urn:knew> . <urn:new> <urn:p:inRepo> <urn:r0> } }")
    after = _rows(ep, q)
    assert len(after) == 17
    assert {json.loads(r)["f"]["value"] for r in after} - {json.loads(r)["f"]["value"] for r in before} == {
        "urn:new"}
    counts = _status(ep)
    assert (counts["entries"], counts["hits"], counts["misses"]) == (1, 1, 2)
    ep.triples = ep.triples.where("subj != '<urn:new>'")
    assert _rows(ep, q) == before


@pytest.mark.parametrize("call", ["RAND()", "NOW()", "UUID()", "STRUUID()"])
def test_volatile_builtins_are_never_cached(ep, call):
    """Spark fixes RAND/UUID seeds at analysis and NOW at optimization:
    each request plans again and gets a fresh value."""
    q = f"SELECT ?k ({call} AS ?v) WHERE {{ <urn:f3> <urn:p:definesClass> ?k }}"
    first, second = _rows(ep, q), _rows(ep, q)
    assert len(first) == len(second) == 1
    assert first != second
    counts = _status(ep)
    assert (counts["entries"], counts["hits"], counts["misses"], counts["volatile"]) == (0, 0, 2, 2)


def test_bnode_stays_cacheable(ep):
    """BNODE is seeded from the solution, so a re-run repeats it."""
    q = "SELECT ?k (BNODE() AS ?b) WHERE { <urn:f3> <urn:p:definesClass> ?k }"
    assert _rows(ep, q) == _rows(ep, q)
    counts = _status(ep)
    assert (counts["entries"], counts["hits"], counts["volatile"]) == (1, 1, 0)


def test_concurrent_hits_give_identical_rows(store, ep):
    """4 threads x 10 repeats of the join shape: every reply equals the
    fresh plan's rows."""
    q = JOIN.format(m=0)
    want = sorted(
        json.dumps(b, sort_keys=True) for b in results_json(sparql_query(store, q))["results"]["bindings"]
    )
    got, errors = [], []

    def client() -> None:
        for _ in range(10):
            try:
                got.append(_rows(ep, q))
            except Exception as exc:  # reported below, never hangs the test
                errors.append(repr(exc))

    threads = [threading.Thread(target=client) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert len(got) == 40 and all(rows == want for rows in got)
    counts = _status(ep)
    assert counts["entries"] == 1
    assert counts["hits"] + counts["misses"] == 40
    # concurrent first misses may each plan; only one entry is kept
    assert counts["duplicates"] < counts["misses"] <= 4


def test_lru_keeps_the_bound_and_evicts_the_oldest(store, monkeypatch):
    """N+1 distinct queries leave N entries; the first one is gone."""
    monkeypatch.setattr(endpoint_mod, "PLAN_CACHE_ENTRIES", 3)
    ep = SparqlEndpoint(store).start()
    try:
        qs = [f"SELECT ?k WHERE {{ <urn:f{i}> <urn:p:definesClass> ?k }}" for i in range(4)]
        for q in qs:
            assert _rows(ep, q)
        counts = _status(ep)
        assert (counts["entries"], counts["bound"], counts["evictions"], counts["misses"]) == (3, 3, 1, 4)
        for q in qs[1:]:
            _rows(ep, q)
        assert _status(ep)["hits"] == 3
        _rows(ep, qs[0])
        counts = _status(ep)
        assert (counts["hits"], counts["misses"], counts["evictions"]) == (3, 5, 2)
    finally:
        ep.stop()


def test_failed_first_execution_leaves_no_entry(spark, store, tmp_path):
    """A SERVICE store whose files are gone fails on its first collect
    (500): nothing is cached, and the error text is the body while the
    status line keeps its one-line reason phrase."""
    svc_dir = str(tmp_path / "svc")
    spark.createDataFrame(
        [("<urn:a>", "<urn:p>", "<urn:b>", None)], "subj string, pred string, obj string, ctx string"
    ).write.parquet(svc_dir)
    svc = spark.read.parquet(svc_dir)
    shutil.rmtree(svc_dir)
    ep = SparqlEndpoint(store, services={"urn:svc": svc}).start()
    try:
        q = "SELECT ?o WHERE { SERVICE <urn:svc> { <urn:a> <urn:p> ?o } }"
        for _ in range(2):
            status, reason, body = _call(ep, q)
            assert (status, reason) == (500, "Internal Server Error")
            assert body
        counts = _status(ep)
        assert (counts["entries"], counts["misses"], counts["hits"]) == (0, 2, 0)
    finally:
        ep.stop()


def test_non_latin1_error_text_answers_400_with_a_utf8_body(ep):
    """The message of an unknown function named in CJK text cannot go in
    the Latin-1 status line; it used to drop the connection."""
    status, reason, body = _call(ep, "SELECT (日(?o) AS ?x) WHERE { ?s ?p ?o }")
    assert (status, reason) == (400, "Bad Request")
    assert "日" in body


def test_status_counters_after_miss_hit_update_and_now(ep):
    q = JOIN.format(m=2)
    _rows(ep, q)
    assert _status(ep) == {"entries": 1, "bound": endpoint_mod.PLAN_CACHE_ENTRIES, "hits": 0,
                           "misses": 1, "evictions": 0, "volatile": 0, "duplicates": 0}
    _rows(ep, q)
    assert (_status(ep)["hits"], _status(ep)["entries"]) == (1, 1)
    _update(ep, 'INSERT DATA { <urn:x> <urn:p:label> "x" }')
    assert (_status(ep)["entries"], _status(ep)["hits"], _status(ep)["misses"]) == (0, 1, 1)
    _rows(ep, "SELECT (NOW() AS ?t) WHERE { <urn:x> <urn:p:label> ?l }")
    assert _status(ep) == {"entries": 0, "bound": endpoint_mod.PLAN_CACHE_ENTRIES, "hits": 1,
                           "misses": 2, "evictions": 0, "volatile": 1, "duplicates": 0}


def test_stored_query_named_status_keeps_its_path(store):
    ep = SparqlEndpoint(store, stored={"status": "SELECT ?k WHERE { <urn:f1> <urn:p:definesClass> ?k }"}).start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{ep.port}/status", timeout=60) as resp:
            body = json.loads(resp.read())
        assert body["results"]["bindings"] == [{"k": {"type": "uri", "value": "urn:k1"}}]
    finally:
        ep.stop()


def test_dataset_parameters_are_part_of_the_key(store, ep):
    """The same text under another default-graph-uri is another plan."""
    q = urllib.parse.quote("SELECT ?k WHERE { <urn:f1> <urn:p:definesClass> ?k }")
    base = f"http://127.0.0.1:{ep.port}/sparql?query={q}"

    def n(url: str) -> int:
        with urllib.request.urlopen(url, timeout=60) as resp:
            return len(json.loads(resp.read())["results"]["bindings"])

    assert n(base) == 1
    assert n(base + "&default-graph-uri=" + urllib.parse.quote("urn:other")) == 0
    assert n(base + "&default-graph-uri=" + urllib.parse.quote("urn:g")) == 1
    assert n(base) == 1
    counts = _status(ep)
    assert (counts["entries"], counts["hits"], counts["misses"]) == (3, 1, 3)
