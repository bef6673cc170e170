"""Mirror-dispatch parity: a query over a written store's handle
(``load_dataset``, which scans POS or OSP where they cover a pattern's
bound terms) answers exactly what the same query answers over the bare
SPO frame.  Covers every W3C manifest evaluation case and the bound and
free closure shapes, compared by ``(count, bit_xor(xxhash64(row)))``."""

from __future__ import annotations

from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halyard_spark.pipeline import materialize
from halyard_spark.pipeline.rdfload import load_dataset
from halyard_spark.query.sparql import sparql_query, sparql_update
from tests.test_path_ops import P, _graphs, iri, store_of
from tests.test_w3c_manifest import MANIFEST, W3C_DIR, load_nquads

EVAL_CASES = [c for c in MANIFEST if c.get("type") is None]
DATA_FILES = sorted({c["data"] for c in EVAL_CASES})


def digests(frames: list) -> list[tuple[int, int]]:
    """``(count, bit_xor(xxhash64(row)))`` of each frame, in one job."""
    parts = [
        df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])).alias("x"))
        .select(F.lit(i).alias("i"), "n", "x")
        for i, df in enumerate(frames)
    ]
    rows = reduce(DataFrame.unionAll, parts).collect()
    return [(r.n, r.x or 0) for r in sorted(rows, key=lambda r: r.i)]


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    """name -> (bare SPO frame, store handle) over the same quads, one
    store per W3C data file and per closure graph, written lazily."""
    root = tmp_path_factory.mktemp("mirror_parity")
    made: dict = {}

    def get(name: str, quads):
        if name not in made:
            out = str(root / name.replace("/", "_"))
            materialize.write_store(quads(), out)
            made[name] = (materialize.read_index(spark, out, "spo"), load_dataset(spark, out))
        return made[name]

    return get


def assert_same(bare_frames: list, handle_frames: list, names: list[str]) -> None:
    got, want = digests(handle_frames), digests(bare_frames)
    assert [n for n, a, b in zip(names, got, want) if a != b] == []


@pytest.mark.parametrize("data", DATA_FILES)
def test_w3c_cases_same_over_store_handle(spark, frames, data):
    """Every evaluation case on ``data``; an update case runs its update
    over both frames first (over the handle it returns a plain frame)."""
    bare, handle = frames(data, lambda: load_nquads(spark, W3C_DIR / data))
    cases = [c for c in EVAL_CASES if c["data"] == data]
    on_bare, on_handle = [], []
    for case in cases:
        b, h = bare, handle
        if "update" in case:
            update = (W3C_DIR / case["update"]).read_text()
            b, h = sparql_update(bare, update), sparql_update(handle, update)
        query = (W3C_DIR / case["query"]).read_text()
        on_bare.append(sparql_query(b, query))
        on_handle.append(sparql_query(h, query))
    assert_same(on_bare, on_handle, [c["name"] for c in cases])


@pytest.mark.parametrize("graph", sorted(_graphs()))
def test_closures_same_over_store_handle(spark, frames, graph):
    pairs = _graphs()[graph]
    bare, handle = frames(graph, lambda: store_of(spark, pairs))
    a, b = pairs[0]
    queries = [
        *(f"SELECT ?o WHERE {{ {iri(a)} {P}{m} ?o }}" for m in "*+?"),
        *(f"SELECT ?s WHERE {{ ?s {P}{m} {iri(b)} }}" for m in "*+?"),
        f"SELECT ?s ?o WHERE {{ ?s {P}+ ?o }}",
        f"SELECT ?s ?o WHERE {{ ?s {P}* ?o }}",
        f"ASK {{ {iri(a)} {P}+ {iri(b)} }}",
    ]
    assert_same([sparql_query(bare, q) for q in queries], [sparql_query(handle, q) for q in queries], queries)
