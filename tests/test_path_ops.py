"""Direct unit coverage for the frontier-BFS path engine
(halyard_spark/query/path.py) — previously exercised only through the
SPARQL property-path front-end.

Covers both intra-round carriage strategies: the dedup-free fused-hop
path (low max out-degree, broadcast-sized edges) and the per-hop
distinct path (high fanout), plus cycles, min_length exactness, and a
brute-force closure equivalence on a seeded random digraph.

Reference semantics: RDF4J ArbitraryLengthPath / PathIteration
(strategy/.../HalyardTupleExprEvaluation.java:1073-1098)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from halyard_spark.query import path as path_mod
from halyard_spark.query.path import (
    reachable_from,
    transitive_closure,
    zero_or_one_path,
)
from halyard_spark.session import local_frame


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def edges_df(spark, pairs):
    return local_frame(spark, [(str(a), str(b)) for a, b in pairs], "src string, dst string")


def brute_closure(pairs, min_length=1):
    """Floyd-Warshall-ish reference closure on python sets."""
    nodes = {a for a, _ in pairs} | {b for _, b in pairs}
    reach = {n: set() for n in nodes}
    for a, b in pairs:
        reach[a].add(b)
    changed = True
    while changed:
        changed = False
        for n in nodes:
            new = set()
            for m in reach[n]:
                new |= reach[m]
            if not new <= reach[n]:
                reach[n] |= new
                changed = True
    out = {(str(a), str(b)) for a in nodes for b in reach[a]}
    if min_length == 0:
        out |= {(str(n), str(n)) for n in nodes}
    return sorted(out)


def test_chain_closure_dedup_free_path(spark):
    # out-degree 1 everywhere -> fused dedup-free hops
    pairs = [(i, i + 1) for i in range(12)]
    got = rows(transitive_closure(edges_df(spark, pairs)))
    assert got == brute_closure(pairs)


def test_dense_graph_takes_per_hop_distinct_and_is_correct(spark):
    # K12 minus self-loops: max out-degree 11 -> 11**4 > 256, so the
    # fanout gate must fall back to per-hop distinct; the closure is
    # every ordered pair.
    n = 12
    pairs = [(a, b) for a in range(n) for b in range(n) if a != b]
    got = rows(transitive_closure(edges_df(spark, pairs)))
    assert got == sorted((str(a), str(b)) for a in range(n) for b in range(n))


def test_cycle_terminates_and_closes(spark):
    pairs = [(0, 1), (1, 2), (2, 0)]
    got = rows(transitive_closure(edges_df(spark, pairs)))
    assert got == sorted((str(a), str(b)) for a in range(3) for b in range(3))


def test_reachable_from_min_length_exact(spark):
    # chain 0->1->2->3->4; min_length=2 from 0 reaches {2,3,4} only
    pairs = [(i, i + 1) for i in range(4)]
    src = spark.createDataFrame([("0",)], "src string")
    got = rows(reachable_from(edges_df(spark, pairs), src, min_length=2))
    assert got == [("0", "2"), ("0", "3"), ("0", "4")]
    # min_length=0 adds the identity pair for the source itself
    got0 = rows(reachable_from(edges_df(spark, pairs), src, min_length=0))
    assert ("0", "0") in got0 and ("0", "4") in got0 and len(got0) == 5


def test_random_digraph_matches_brute_force(spark, monkeypatch):
    rng = random.Random(20260817)
    n = 30
    pairs = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(70)})
    pairs = [(a, b) for a, b in pairs if a != b]
    df = edges_df(spark, pairs)
    want = brute_closure(pairs)
    assert rows(transitive_closure(df, min_length=1)) == want
    # a 40-node chain outruns one 32-hop round: default batching takes
    # two fused rounds and must still match the brute-force closure
    chain = [(i, i + 1) for i in range(39)]
    df = edges_df(spark, chain)
    srcs = df.select("src").distinct()
    statements = []
    sql = spark.sql
    monkeypatch.setattr(
        spark, "sql", lambda q, *a, **kw: statements.append(q) or sql(q, *a, **kw)
    )
    got = rows(reachable_from(df, srcs, min_length=1))
    monkeypatch.undo()
    assert got == brute_closure(chain)
    # rounds are counted by their SQL template: each fused round is one
    # spark.sql statement over the frontier argument {f}
    rounds = [q for q in statements if "FROM {f} s" in q]
    assert len(rounds) == 2


def test_rounds_read_a_sized_broadcast_threshold(spark, monkeypatch):
    # Spark reports the threshold as a size string ("10485760b" by
    # default); below the edge set's size the hops shuffle
    pairs = [(i, i + 1) for i in range(6)]
    statements = []
    sql = spark.sql
    monkeypatch.setattr(
        spark, "sql", lambda q, *a, **kw: statements.append(q) or sql(q, *a, **kw)
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
    try:
        got = rows(transitive_closure(edges_df(spark, pairs)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == brute_closure(pairs)
    rounds = [q for q in statements if "FROM {f} s" in q]
    assert rounds and not any("BROADCAST" in q for q in rounds)


@pytest.mark.parametrize(
    "max_deg, shape",
    [(1, (32, True)), (2, (8, True)), (3, (5, True)), (4, (4, True)),
     (5, (4, False)), (6, (4, False)), (16, (4, False)), (1000, (4, False))],
)
def test_round_shape_follows_the_carriage_rule(max_deg, shape):
    # the deepest dedup-free round of <= 32 hops with max_deg**depth <= 256,
    # else 4-hop per-hop-DISTINCT rounds
    assert path_mod._round_shape(max_deg) == shape


def test_iterative_operators_leave_the_catalog_as_found(spark, monkeypatch):
    from pyspark.errors import AnalysisException

    from halyard_spark.pipeline import cc

    def tables():
        return sorted(t.name for t in spark.catalog.listTables())

    before = tables()
    df = edges_df(spark, [(0, 1), (1, 2), (2, 0), (3, 4)])
    srcs = spark.createDataFrame([("0",), ("3",)], "src string")
    assert rows(cc.connected_components(df))
    assert rows(transitive_closure(df))
    assert rows(reachable_from(df, srcs))
    assert tables() == before
    # a round that fails its analysis still drops the views it registered
    monkeypatch.setattr(cc, "_ROUND_SQL", "SELECT nope FROM {v}")
    monkeypatch.setattr(path_mod, "_round_sql_array", lambda hops, b: "SELECT nope FROM {f}, {e}")
    with pytest.raises(AnalysisException):
        cc.connected_components(df)
    with pytest.raises(AnalysisException):
        transitive_closure(df)
    with pytest.raises(AnalysisException):
        reachable_from(df, srcs)
    assert tables() == before


def test_zero_or_one_path_identity_domain(spark):
    pairs = [(0, 1)]
    nodes = spark.createDataFrame([("0",), ("1",), ("9",)], "n string")
    got = rows(zero_or_one_path(edges_df(spark, pairs), nodes=nodes))
    assert got == [("0", "0"), ("0", "1"), ("1", "1"), ("9", "9")]


def test_empty_edges(spark):
    df = edges_df(spark, []).where(F.lit(False))
    assert rows(transitive_closure(df)) == []


# -------------------------------------------- driver-seeded bound paths

P = "<urn:p>"


def iri(n):
    return f"<urn:n{n}>"


def store_of(spark, pairs):
    """A quad store of ``pairs`` under predicate P, built in the JVM."""
    return local_frame(
        spark,
        [(iri(a), P, iri(b), None) for a, b in pairs],
        "subj string, pred string, obj string, ctx string",
    )


def oracle(pairs, seeds, min_length, max_length=None):
    """(seed, reached) pairs of path length in [min_length, max_length]
    from brute_closure: length >= 2 is one edge followed by a >= 1 path;
    the zero-length arm matches every seed, in the graph or not."""
    edges = {(str(a), str(b)) for a, b in pairs}
    if max_length == 1:
        reach = edges
    elif min_length == 2:
        plus = brute_closure(pairs, min_length=1)
        reach = {(a, c) for a, b in edges for b2, c in plus if b == b2}
    else:
        reach = set(brute_closure(pairs, min_length=1))
    out = {(a, b) for a, b in reach if a in seeds}
    if min_length == 0:
        out |= {(s, s) for s in seeds}
    return sorted(out)


def _graphs():
    rng = random.Random(20261017)
    digraph = sorted({(rng.randrange(24), rng.randrange(24)) for _ in range(50)})
    ring = [(i, (i + 1) % 10) for i in range(10)]
    star = [(0, leaf) for leaf in range(1, 13)] + [(5, 40), (40, 41)]
    return {"digraph": digraph, "ring": ring, "star": star}


def test_sparql_bound_paths_match_oracle(spark):
    """Bound-source and bound-object ``*`` / ``+`` / ``?`` through
    sparql_query, and the both-bound ASK, against brute_closure."""
    from halyard_spark.query.sparql import sparql_query

    mods = {"*": (0, None), "+": (1, None), "?": (0, 1)}
    for name, pairs in _graphs().items():
        store = store_of(spark, pairs)
        rev = [(b, a) for a, b in pairs]
        for seed in (pairs[0][0], 99):
            for mod, (lo, hi) in mods.items():
                fwd = sparql_query(store, f"SELECT ?o WHERE {{ {iri(seed)} {P}{mod} ?o }}")
                want = [b for _, b in oracle(pairs, {str(seed)}, lo, hi)]
                assert sorted(r.o for r in fwd.collect()) == sorted(map(iri, want)), (name, seed, mod)
                back = sparql_query(store, f"SELECT ?s WHERE {{ ?s {P}{mod} {iri(seed)} }}")
                want = [b for _, b in oracle(rev, {str(seed)}, lo, hi)]
                assert sorted(r.s for r in back.collect()) == sorted(map(iri, want)), (name, seed, mod)
        a, b = pairs[0]
        for o, hit in ((b, True), (99, False)):
            ask = sparql_query(store, f"ASK {{ {iri(a)} {P}+ {iri(o)} }}")
            assert ask.collect()[0]["ask"] is hit, (name, o)


@pytest.mark.parametrize("hops,rows_cap", [(2, 4096), (8, 4096), (1, 4096), (2, 2)])
def test_driver_seeds_match_oracle_across_handoff(spark, monkeypatch, hops, rows_cap):
    """reachable_from with driver-side seeds for min_length 0/1/2, with the
    default probe bounds, a deeper probe, and bounds small enough that the
    traversal hands its frontier and seen pairs to the fused rounds
    mid-way."""
    monkeypatch.setattr(path_mod, "_PROBE_HOPS", hops)
    monkeypatch.setattr(path_mod, "_PROBE_ROWS", rows_cap)
    for name, pairs in _graphs().items():
        df = edges_df(spark, pairs)
        seeds = [str(pairs[0][0]), str(pairs[-1][0]), "99"]
        for min_length in (0, 1, 2):
            got = rows(reachable_from(df, seeds, min_length=min_length))
            assert got == oracle(pairs, set(seeds), min_length), (name, min_length)
        got = rows(reachable_from(df, seeds, min_length=0, max_length=1))
        assert got == oracle(pairs, set(seeds), 0, 1), name


def test_bound_paths_values_describe_insert_start_no_python_worker(spark, monkeypatch):
    """No query or update path builds its constants with createDataFrame
    (a Python RDD, so every job reading it would start Python workers)."""
    from pyspark.sql import SparkSession

    from halyard_spark.query.sparql import sparql_query, sparql_update

    pairs = [(0, 1), (1, 2), (2, 0), (3, 1)]
    store = store_of(spark, pairs)

    def refuse(*args, **kwargs):
        raise AssertionError("createDataFrame called on a query path")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    monkeypatch.setattr(path_mod, "_PROBE_HOPS", 1)  # the fused rounds too
    for q in (
        f"SELECT ?o WHERE {{ {iri(0)} {P}* ?o }}",
        f"SELECT ?s WHERE {{ ?s {P}+ {iri(1)} }}",
        f"SELECT ?o WHERE {{ {iri(3)} {P}? ?o }}",
        f"SELECT ?s ?o WHERE {{ VALUES ?s {{ {iri(0)} {iri(3)} UNDEF }} ?s {P} ?o }}",
    ):
        assert sparql_query(store, q).collect(), q
    empty = sparql_query(store, f"SELECT ?s ?o WHERE {{ VALUES ?s {{ }} ?s {P} ?o }}")
    assert empty.collect() == [] and dict(empty.dtypes)["s"] == "string"
    assert sparql_query(store, f"ASK {{ {iri(3)} {P}+ {iri(0)} }}").collect()[0]["ask"]
    described = sparql_query(store, f"DESCRIBE {iri(3)}").collect()
    assert (iri(3), P, iri(1)) in [tuple(r) for r in described]
    updated = sparql_update(store, f"INSERT DATA {{ {iri(7)} {P} {iri(8)} }}")
    assert updated.count() == len(pairs) + 1


def test_bound_star_closure_job_gate(spark):
    """``?x p* <hub>`` on a star forest: two probe hops and the result
    frame, never the edge checkpoint, count and degree probe."""
    from halyard_spark.endpoint import results_json
    from halyard_spark.query.sparql import sparql_query

    pairs = [(100 * h + leaf, 100 * h) for h in range(1, 6) for leaf in range(1, 7)]
    store = store_of(spark, pairs)
    sc = spark.sparkContext
    group = "bound-star-closure-gate"
    sc.setJobGroup(group, group)
    try:
        body = results_json(sparql_query(store, f"SELECT ?x WHERE {{ ?x {P}* {iri(300)} }}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = sorted(b["x"]["value"] for b in body["results"]["bindings"])
    assert got == sorted(f"urn:n{n}" for n in [300] + [300 + leaf for leaf in range(1, 7)])
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 9, jobs
