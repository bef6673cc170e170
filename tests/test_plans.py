"""Physical-plan quality gates: the optimizations SURVEY.md §4 maps from
Halyard's hand-built machinery must actually appear in Catalyst plans —
filter pushdown (HBase start/stop-row analog), column pruning, broadcast
join selection, and top-K fusion (Sorter.java eviction analog).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from halyard_spark import corpus
from halyard_spark.pipeline import materialize, run
from halyard_spark.query import algebra as A
from halyard_spark.query.pattern import statement_pattern


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plans"))
    src = corpus.generate_src(spark, 200)
    run.run_pipeline(spark, src, out)
    return out


def test_pattern_scan_pushes_filter(spark, store):
    pos = materialize.read_index(spark, f"{store}/store", "pos")
    df = statement_pattern(pos, p="<urn:p:imports>", vars={"subj": "f", "obj": "m"})
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "pred" in plan.split("PushedFilters:")[1][:200], plan


def test_pattern_scan_prunes_columns(spark, store):
    spo = materialize.read_index(spark, f"{store}/store", "spo")
    df = spo.select("subj", "pred")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "obj" not in read_schema, read_schema


def test_small_dim_join_broadcasts(spark, sf01_dir):
    c = spark.read.parquet(f"{sf01_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf01_dir}/nation.parquet")
    j = c.join(n, c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_order_limit_fuses_topk(spark, sf01_dir):
    o = spark.read.parquet(f"{sf01_dir}/orders.parquet")
    df = A.order_limit(o.select("o_orderkey", "o_totalprice"), F.col("o_totalprice").desc(), limit=10)
    assert "TakeOrderedAndProject" in _plan(df)


def test_spo_mirror_sorted_for_rowgroup_pruning(spark, store):
    """A ctx-bound scan on the SPO mirror must read fewer rows than a full
    scan would — evidence that the range-partitioned sorted write enables
    min/max pruning (the HBase region-prefix analog)."""
    spo = materialize.read_index(spark, f"{store}/store", "spo")
    one_graph = spo.select("ctx").where(F.col("ctx").isNotNull()).first()["ctx"]
    filtered = spo.where(F.col("ctx") == one_graph)
    plan = _plan(filtered)
    assert "PushedFilters" in plan and "ctx" in plan.split("PushedFilters:")[1][:300]


def test_exact_dedup_shuffles_digest_not_text(spark):
    """exact_dedup's default groupBy key must be the 64-hex sha256 digest:
    at 100 TB the shuffle key is 32 bytes, never the document text.  The
    Exchange nodes of the plan must not carry the text column."""
    from halyard_spark.ops.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(1, "some document body"), (2, "another body"), (3, "some document body")],
        "doc_id long, text string",
    )
    df = exact_dedup(docs)
    plan = _plan(df)
    assert "sha2" in plan, plan
    for seg in plan.splitlines():
        if "Exchange" in seg:
            assert "text#" not in seg, seg
    # collision-defense semantics preserved: identical texts collapse
    got = {(r["doc_id"], r["canonical_id"]) for r in df.collect()}
    assert got == {(1, 1), (2, 2), (3, 1)}


def test_extract_boundary_is_narrow(spark):
    """The Arrow exchange of the extract stage must not echo file metadata:
    the python-side schema carries only fid/kind/name/qualifier."""
    from halyard_spark.pipeline import extract

    src = corpus.generate_src(spark, 50)
    df = extract.extract_mentions(src)
    plan = _plan(df)
    seg = plan.split("MapInPandas")[1].splitlines()[0] if "MapInPandas" in plan else ""
    assert "fid" in seg and "commit" not in seg, seg


def test_graph_constant_pushes_ctx_filter(spark, store):
    """GRAPH <g> must reach the parquet scan as a pushed ctx predicate —
    on a ctx-partitioned store that is partition pruning (the reference's
    per-context index prefix)."""
    from halyard_spark.query.sparql import sparql_query

    spo = materialize.read_index(spark, f"{store}/store", "spo")
    g = spo.select("ctx").where(F.col("ctx").isNotNull()).first()["ctx"]
    out = sparql_query(spo, f"SELECT ?s WHERE {{ GRAPH {g} {{ ?s ?p ?o }} }}")
    plan = _plan(out)
    assert "PushedFilters" in plan and "ctx" in plan.split("PushedFilters", 1)[1][:400]


def test_path_sequence_bound_source_pushes_subject(spark, store):
    """`<s> p1/p2 ?o` must push the constant subject into the FIRST scan
    (the join chain narrows from the bound side, per-binding evaluation's
    analog) rather than scanning both predicates unfiltered."""
    from halyard_spark.query.sparql import sparql_query

    spo = materialize.read_index(spark, f"{store}/store", "spo")
    s = spo.where(F.col("pred") == "<urn:p:imports>").first()["subj"]
    out = sparql_query(
        spo, f"SELECT ?o WHERE {{ {s} <urn:p:imports>/<urn:p:canonical> ?o }}"
    )
    plan = _plan(out)
    pushed = [seg[:300] for seg in plan.split("PushedFilters")[1:]]
    assert any("EqualTo(subj," in seg for seg in pushed), plan


def test_path_alternative_of_links_is_single_scan(spark, store):
    """(p1|p2) over plain links must compile to ONE pred-IN scan, not a
    union of per-predicate scans."""
    from halyard_spark.query.sparql import sparql_query

    spo = materialize.read_index(spark, f"{store}/store", "spo")
    out = sparql_query(
        spo, "SELECT ?s ?o WHERE { ?s (<urn:p:imports>|<urn:p:references>) ?o }"
    )
    plan = _plan(out)
    assert plan.count("Scan parquet") == 1
    assert "In(pred" in plan or "pred#" in plan.split("PushedFilters", 1)[1][:300]


def _scanned(plan: str) -> list[str]:
    """The store mirrors a physical plan scans, in plan order."""
    return re.findall(r"/store/(spo|pos|osp)\]", plan)


def test_store_pred_obj_pattern_scans_pos(spark, store):
    """On a load_dataset store a pred+obj pattern reads the POS mirror,
    with both constants pushed into its scan (Halyard's POS range scan,
    HalyardTableUtils.java:300-373)."""
    from halyard_spark.pipeline.rdfload import load_dataset
    from halyard_spark.query.sparql import sparql_query

    handle = load_dataset(spark, f"{store}/store")
    m = handle.where(F.col("pred") == "<urn:p:imports>").first()["obj"]
    plan = _plan(sparql_query(handle, f"SELECT ?s WHERE {{ ?s <urn:p:imports> {m} }}"))
    assert _scanned(plan) == ["pos"], plan
    pushed = plan.split("PushedFilters:", 1)[1][:400]
    assert "EqualTo(pred," in pushed and "EqualTo(obj," in pushed, plan


def test_store_point_po_plan_py4j_commands(spark, store, monkeypatch):
    """Planning a warm point_po query over a load_dataset store on the
    main thread: PySpark's per-call origin capture (a stack walk and 5-7
    py4j round trips per Column call) tripled the count; get_spark turns
    it off."""
    from halyard_spark.pipeline.rdfload import load_dataset
    from halyard_spark.query.sparql import sparql_query

    handle = load_dataset(spark, f"{store}/store")
    m = handle.where(F.col("pred") == "<urn:p:imports>").first()["obj"]
    query = f"SELECT ?s WHERE {{ ?s <urn:p:imports> {m} }}"
    sparql_query(handle, query)
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counted(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    sparql_query(handle, query)
    monkeypatch.undo()
    assert 0 < len(sent) <= 45, len(sent)


def test_store_closure_edge_scan_picks_by_bound_end(spark, store, monkeypatch):
    """A closure walks ``obj IN (frontier)`` over reversed edges from a
    bound object, which POS covers; from a bound subject it walks
    ``subj IN (frontier)`` on the SPO mirror."""
    from halyard_spark.pipeline.rdfload import load_dataset
    from halyard_spark.query import path as path_mod
    from halyard_spark.query.sparql import sparql_query

    handle = load_dataset(spark, f"{store}/store")
    row = handle.where(F.col("pred") == "<urn:p:imports>").first()
    walked = []
    reachable_from = path_mod.reachable_from

    def spy(edges, *args, **kwargs):
        walked.extend(_scanned(_plan(edges)))
        return reachable_from(edges, *args, **kwargs)

    monkeypatch.setattr(path_mod, "reachable_from", spy)
    sparql_query(handle, f"SELECT ?x WHERE {{ ?x <urn:p:imports>* {row['obj']} }}").collect()
    sparql_query(handle, f"SELECT ?x WHERE {{ {row['subj']} <urn:p:imports>+ ?x }}").collect()
    assert walked == ["pos", "spo"], walked


def test_store_subject_and_graph_patterns_scan_spo(spark, store):
    """A subject-bound pattern and a GRAPH <g> pattern with a free
    object keep the ctx-led SPO mirror."""
    from halyard_spark.pipeline.rdfload import load_dataset
    from halyard_spark.query.sparql import sparql_query

    handle = load_dataset(spark, f"{store}/store")
    row = handle.where(F.col("ctx").isNotNull() & (F.col("pred") == "<urn:p:imports>")).first()
    plan = _plan(sparql_query(handle, f"SELECT ?p ?o WHERE {{ {row['subj']} ?p ?o }}"))
    assert _scanned(plan) == ["spo"] and "EqualTo(subj," in plan.split("PushedFilters:", 1)[1][:300], plan
    plan = _plan(sparql_query(handle, f"SELECT ?s ?o WHERE {{ GRAPH {row['ctx']} {{ ?s <urn:p:imports> ?o }} }}"))
    assert _scanned(plan) == ["spo"] and "EqualTo(ctx," in plan.split("PushedFilters:", 1)[1][:300], plan
    plan = _plan(sparql_query(handle, f"SELECT ?s WHERE {{ GRAPH {row['ctx']} {{ ?s <urn:p:imports> {row['obj']} }} }}"))
    assert _scanned(plan) == ["pos"], plan


def test_bare_frame_scans_what_it_was_given(spark, store):
    """sparql_query over a plain DataFrame picks no mirror: a
    subject-bound pattern over a POS read still scans POS."""
    from halyard_spark.query.sparql import sparql_query

    pos = materialize.read_index(spark, f"{store}/store", "pos")
    s = pos.where(F.col("pred") == "<urn:p:imports>").first()["subj"]
    plan = _plan(sparql_query(pos, f"SELECT ?p ?o WHERE {{ {s} ?p ?o }}"))
    assert _scanned(plan) == ["pos"], plan


def test_summary_decimation_single_factor(spark):
    """Sampled domain/range stats scale by decimation ONCE: the type side
    stays exact, so est_count is an unbiased estimator (decimating both
    join sides underestimated by another full factor) and class counts
    are exact (code-review regression)."""
    from halyard_spark import nt
    from halyard_spark.pipeline import stats as ST

    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    rows = [(f"<urn:s{i}>", rdf_type, "<urn:C>", None) for i in range(200)]
    rows += [(f"<urn:s{i}>", "<urn:p>", nt.lit(str(i)), None) for i in range(200)]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string, ctx string")
    exact = {
        (r["stat_kind"], r["est_count"])
        for r in ST.summary(t, decimation=1).collect()
        if r["stat_kind"] in ("class", "domain")
    }
    assert ("class", 200) in exact and ("domain", 200) in exact
    sampled = {r["stat_kind"]: r["est_count"] for r in ST.summary(t, decimation=4).collect()
               if r["stat_kind"] in ("class", "domain")}
    assert sampled["class"] == 200  # classes stay exact
    # unbiased: ~200 within sampling noise, NOT ~50 (the 1/d^2 bug)
    assert 100 <= sampled["domain"] <= 320, sampled
