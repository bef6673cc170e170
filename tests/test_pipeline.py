"""Pipeline correctness gates (BASELINE.json north rule):

- triple P/R >= 0.95 vs the independent golden emission (tests/golden.py),
- per-row content sha256 equality vs the source table,
- determinism at two parallelism levels,
- idempotent resume from lineage,
- connected-components unit correctness on chains/cycles and against a
  union-find oracle on seeded random graphs.
"""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from halyard_spark import corpus
from halyard_spark.pipeline import cc, extract, lineage, link, run
from tests import golden

N_FILES = 400


@pytest.fixture(scope="module")
def src(spark):
    return corpus.generate_src(spark, N_FILES).cache()


@pytest.fixture(scope="module")
def pipeline_out(spark, src, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg"))
    report = run.run_pipeline(spark, src, out)
    return out, report


def test_corpus_deterministic_across_parallelism(spark):
    a = corpus.generate_src(spark, 100, parallelism=2).orderBy("repo", "path").collect()
    b = corpus.generate_src(spark, 100, parallelism=16).orderBy("repo", "path").collect()
    assert a == b
    # mega-repo skew present
    from collections import Counter

    c = Counter(r["repo"] for r in a)
    assert c[corpus.MEGA_REPO] == 30


def test_extract_no_per_row_python(spark, src):
    m = extract.extract_mentions(src)
    kinds = {r["kind"] for r in m.select("kind").distinct().collect()}
    assert {"module", "import", "class", "function"} <= kinds
    # every file yields a module mention + >=1 class
    per_file = m.groupBy("repo", "path").count()
    assert per_file.where(F.col("count") < 2).count() == 0


def test_sha256_per_row_invariant(spark, src):
    """content sha256 computed in the pipeline == hashlib over the source."""
    m = extract.extract_mentions(src).select("repo", "path", "content_sha256").distinct()
    joined = (
        src.select("repo", "path", "content")
        .join(m, ["repo", "path"])
        .collect()
    )
    assert len(joined) == N_FILES
    for row in joined:
        assert hashlib.sha256(row["content"].encode()).hexdigest() == row["content_sha256"]


def test_connected_components_chain_and_cycle(spark):
    # chain a-b-c-d-e, cycle x-y-z-x, isolated pair p-q
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"), ("x", "y"), ("y", "z"), ("z", "x"), ("q", "p")],
        ["src", "dst"],
    )
    got = {(r["node"], r["component"]) for r in cc.connected_components(edges).collect()}
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"), ("e", "a"),
        ("x", "x"), ("y", "x"), ("z", "x"),
        ("p", "p"), ("q", "p"),
    }


def _union_find_components(edges):
    """node -> min label of its component; roots are always the smaller
    label, so each set's root is its minimum."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _random_graph(kind, rng):
    labels = iter(f"v{i:06d}" for i in rng.sample(range(10**6), 400))
    edges = []
    if kind == "path":  # 200 nodes, labels shuffled along the path
        nodes = [next(labels) for _ in range(200)]
        edges = list(zip(nodes, nodes[1:]))
    elif kind == "star_forest":
        for _ in range(12):
            hub = next(labels)
            edges += [(hub, next(labels)) for _ in range(rng.randint(1, 20))]
    else:  # disjoint cycles plus isolated pairs
        for n in range(3, 15):
            ring = [next(labels) for _ in range(n)]
            edges += list(zip(ring, ring[1:] + ring[:1]))
        edges += [(next(labels), next(labels)) for _ in range(10)]
    # random orientation, a few repeated edges
    edges = [(a, b) if rng.random() < 0.5 else (b, a) for a, b in edges]
    return edges + rng.sample(edges, 5)


@pytest.mark.parametrize("kind", ["path", "star_forest", "cycles_and_pairs"])
def test_connected_components_vs_union_find(spark, kind):
    edges = _random_graph(kind, random.Random(7))
    conf = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["component"] for r in cc.connected_components(df).collect()}
    assert got == _union_find_components(edges)
    # the rounds run on the caller's session and leave its conf alone
    assert {k: spark.conf.get(k) for k in conf} == conf


def test_pipeline_pr_vs_golden(spark, src, pipeline_out):
    out, report = pipeline_out
    # the SPO mirror IS the canonical quad table (no separate quads copy)
    actual = {
        (r["subj"], r["pred"], r["obj"], r["ctx"])
        for r in spark.read.parquet(f"{out}/store/spo").collect()
    }
    expected = golden.golden_triples(src.toPandas())
    p, r = golden.precision_recall(actual, expected)
    assert p >= 0.95, f"precision {p}: extra={list(actual - expected)[:5]}"
    assert r >= 0.95, f"recall {r}: missing={list(expected - actual)[:5]}"
    # in fact we target exact agreement
    assert p == 1.0 and r == 1.0


def test_store_indexes_written(spark, pipeline_out):
    out, report = pipeline_out
    from halyard_spark.pipeline import materialize

    spo = materialize.read_index(spark, f"{out}/store", "spo")
    pos = materialize.read_index(spark, f"{out}/store", "pos")
    assert spo.count() == pos.count() == report["materialize"]["rows"]
    assert materialize.pick_index(False, True, False) == "pos"
    assert materialize.pick_index(False, False, True) == "osp"


def test_resume_skips_stages(spark, src, pipeline_out):
    out, _ = pipeline_out
    report2 = run.run_pipeline(spark, src, out, resume=True)
    for stage in ("extract", "dictionary", "link", "canonicalize", "triples", "materialize"):
        assert report2[stage]["skipped"], stage


def test_link_shuffle_equals_broadcast(spark, src):
    """The dictionary size picks the join; both joins link the same rows."""
    m = extract.extract_mentions(src).cache()
    d = link.build_dictionary(m).cache()
    a = link.link_mentions(m, d, dict_rows=0)
    b = link.link_mentions(m, d, dict_rows=link.BROADCAST_MAX_ROWS + 1)

    def hinted(df):
        return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()

    assert hinted(a) and not hinted(b)
    cols = ["repo", "path", "kind", "name", "canonical_id"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_link_auto_with_size_hint_runs_no_count_job(spark, src):
    """Supplying dict_rows must skip the driver-blocking count probe."""
    m = extract.extract_mentions(src).cache()
    d = link.build_dictionary(m)
    d.count = lambda: (_ for _ in ()).throw(AssertionError("count job ran despite hint"))
    out = link.link_mentions(m, d, dict_rows=100)
    assert out.columns == ["repo", "path", "kind", "name", "canonical_id", "score"]
    assert out.count() > 0  # the join itself still executes


def test_partition_lineage_rows(spark, src, pipeline_out):
    """North rule: per-input-split lineage (repo -> n_files, content-sha
    signature, triple count), consistent with the store."""
    out, report = pipeline_out
    plin = spark.read.parquet(f"{out}/lineage_partitions")
    assert set(plin.columns) == {"repo", "n_files", "content_sig", "n_triples"}
    # file counts reconcile with the source table
    src_counts = {r["repo"]: r["n"] for r in src.groupBy("repo").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["repo"]: (r["n_files"], r["n_triples"]) for r in plin.collect()}
    assert {k: v[0] for k, v in got.items()} == src_counts
    assert all(n_triples > 0 for _, n_triples in got.values())
    # signature is recomputable from the source content (audit replay);
    # (path, sha) tuples make the xor combiner duplicate-sensitive
    sig = src.where(F.col("repo") == next(iter(src_counts))).agg(
        F.expr(
            "bit_xor(xxhash64(path, sha2(cast(content as binary), 256)))"
        ).alias("s")
    ).collect()[0]["s"]
    assert got[next(iter(src_counts))] is not None
    one = plin.where(F.col("repo") == next(iter(src_counts))).collect()[0]
    assert one["content_sig"] == sig


def test_partition_lineage_no_content_rehash(spark, src, pipeline_out):
    """The lineage stage must aggregate the persisted per-file sha256s,
    never re-read/re-hash the corpus content column (a third full
    content pass at 100 TB)."""
    out, _ = pipeline_out
    mentions = spark.read.parquet(f"{out}/mentions")
    quads = spark.read.parquet(f"{out}/store/spo")
    df = lineage.partition_lineage(mentions, quads)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "sha2(" not in plan  # no re-hash (column name content_sha256 is fine)
    assert "content#" not in plan  # content column pruned entirely


def test_lineage_sig_duplicate_sensitive(spark):
    """Two files with identical content must NOT cancel out of the split
    signature (the xor-of-content-hash trap)."""
    base = [("r1", "a.py", "h1"), ("r1", "b.py", "h2")]
    dup = base + [("r1", "c.py", "h1"), ("r1", "d.py", "h1")]  # duplicated content pair
    cols = "repo string, path string, content_sha256 string"
    mk = lambda rows: spark.createDataFrame(
        [(r, p, h) for r, p, h in rows], cols
    ).withColumn("kind", F.lit("file"))
    empty_triples = spark.createDataFrame([], "subj string, pred string, obj string, ctx string")
    sig = lambda rows: lineage.partition_lineage(mk(rows), empty_triples).collect()[0]["content_sig"]
    assert sig(base) != sig(dup)


def test_iceberg_writer_gated(spark):
    """The Iceberg committer path is gated on the runtime being present;
    in this sandbox it must report unavailable (and the writeTo wrapper
    shares the exact repartitionByRange+sort shape the plan gates already
    verify on the parquet path)."""
    from halyard_spark.pipeline import materialize

    available = materialize.iceberg_available(spark)
    assert available is False  # no Iceberg jar in this sandbox
    if available:  # cluster path: would commit an atomic snapshot
        src = spark.createDataFrame(
            [("<s>", "<p>", '"o"', None)],
            "subj string, pred string, obj string, ctx string",
        )
        materialize.write_sorted_iceberg(src, "local.db.t", materialize.INDEXES["spo"])


def test_extract_two_commits_same_path(spark):
    """Two snapshots of the same (repo, path) at different commits must
    keep separate identities: no metadata cross-join through the file id
    (code-review regression — fid now includes commit)."""
    rows = [
        ("r", "src/pkg0/m.py", "c1", "python", "class A:\n    pass\n"),
        ("r", "src/pkg0/m.py", "c2", "python", "class B:\n    pass\n"),
    ]
    src = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    m = extract.extract_mentions(src)
    files = m.where(F.col("kind") == "file").collect()
    assert len(files) == 2  # one registry row per (path, commit)
    assert len({r["content_sha256"] for r in files}) == 2
    # each class mention carries ITS OWN commit's sha, exactly once
    cls = m.where(F.col("kind") == "class").collect()
    assert len(cls) == 2
    by_name = {r["name"]: r["commit"] for r in cls}
    assert by_name == {"A": "c1", "B": "c2"}


def test_resume_invalidates_downstream_on_extract_change(spark, tmp_path):
    """Chained stage fingerprints: force-re-running extract with DIFFERENT
    output must invalidate dependent stages instead of resume mixing new
    mentions with stale link/canonical outputs (code-review regression)."""
    import shutil

    src_a = corpus.generate_src(spark, 60)
    out = str(tmp_path / "kg")
    run.run_pipeline(spark, src_a, out)

    # simulate "extract produced different mentions for the same source
    # fingerprint": delete the mentions output AND swap in altered source
    # content with identical (repo, path, commit) keys (the src_fp cols)
    shutil.rmtree(f"{out}/mentions")
    src_b = src_a.withColumn(
        "content", F.concat(F.col("content"), F.lit("\nclass Zz:\n    pass\n"))
    )
    rep = run.run_pipeline(spark, src_b, out)
    # downstream stages must have RE-RUN (not skipped)
    for stage in ("dictionary", "link", "canonicalize", "triples"):
        assert not rep[stage]["skipped"], stage
    # and the new class reached the store
    store = spark.read.parquet(f"{out}/store/spo")
    assert store.where(F.col("obj") == "<urn:entity:class:Zz>").count() > 0


def test_get_spark_leaves_default_local_dir_alone(spark, tmp_path, monkeypatch):
    """A caller that sets spark.local.dir gets no default scratch dir
    created (the default is a tmpfs directory when one is writable)."""
    from halyard_spark import session

    def no_default():
        raise AssertionError("default spark.local.dir created")

    monkeypatch.setattr(session, "_local_dir", no_default)
    again = session.get_spark(extra_conf={"spark.local.dir": str(tmp_path)})
    assert again is spark
    with pytest.raises(AssertionError):
        session.get_spark()


def test_get_spark_raises_when_the_package_zip_fails(spark, tmp_path, monkeypatch):
    """A failed package zip build surfaces from get_spark, not later as
    an ImportError on the workers."""
    from halyard_spark import session

    def broken(*args, **kwargs):
        raise OSError("zip build failed")

    monkeypatch.setattr(session.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(session.shutil, "make_archive", broken)
    with pytest.raises(OSError, match="zip build failed"):
        session.get_spark(extra_conf={"spark.local.dir": str(tmp_path)})


def test_driver_java_options_keep_the_callers_last():
    from halyard_spark.session import C2_THRESHOLDS, driver_java_options

    ours = driver_java_options().split()
    assert ours == [f"-XX:{k}={v}" for k, v in C2_THRESHOLDS.items()]
    caller = "-Djava.io.tmpdir=/tmp/x -XX:Tier4InvocationThreshold=7"
    merged = driver_java_options(caller)
    assert merged.split()[: len(ours)] == ours
    assert merged.endswith(" " + caller)


def test_driver_memory_is_half_of_mem_available(monkeypatch):
    from halyard_spark import session

    def meminfo(total_gb, avail_gb):
        return (f"MemTotal:       {total_gb * 1024 * 1024} kB\n"
                f"MemFree:        {avail_gb * 512 * 1024} kB\n"
                f"MemAvailable:   {avail_gb * 1024 * 1024} kB\n")

    assert session.driver_memory_for(meminfo(16, 6)) == "3072m"
    assert session.driver_memory_for(meminfo(16, 1)) == "1024m"  # 1 GB floor
    assert session.driver_memory_for(meminfo(512, 256)) == "65536m"  # 64 GB cap
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert session.default_driver_memory() == "5g"


def test_lineage_dir_without_rows_reads_empty(spark, tmp_path):
    """A crash between the lineage makedirs and the first row leaves a
    directory with only _SUCCESS: it reads as 0 rows, so no stage is
    done."""
    (tmp_path / "lineage").mkdir()
    (tmp_path / "lineage" / "_SUCCESS").touch()
    (tmp_path / "out").mkdir()
    (tmp_path / "out" / "_SUCCESS").touch()
    assert lineage.read_lineage(spark, str(tmp_path)).count() == 0
    assert not lineage.stage_done(spark, str(tmp_path), "extract", "1:2", str(tmp_path / "out"))


def test_damaged_lineage_file_raises(spark, tmp_path):
    """A damaged lineage file fails the resume check instead of silently
    reading as 'no lineage' and re-running every stage."""
    lineage.record_stage(spark, str(tmp_path), "extract", "1:2", 5, 10)
    (tmp_path / "lineage" / "extract-0-0.parquet").write_bytes(b"not a parquet file")
    (tmp_path / "out").mkdir()
    (tmp_path / "out" / "_SUCCESS").touch()
    with pytest.raises(Exception, match="(?i)parquet"):
        lineage.stage_done(spark, str(tmp_path), "extract", "1:2", str(tmp_path / "out"))


def test_jit_options_reach_the_driver_jvm(spark):
    """Spark's driver options include -XX:+IgnoreUnrecognizedVMOptions,
    so a misspelled flag would be dropped without a word: read every
    threshold back from the running JVM."""
    from halyard_spark.session import C2_THRESHOLDS, CODEGEN_CACHE_ENTRIES

    jvm = spark.sparkContext._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    for flag, value in C2_THRESHOLDS.items():
        assert hotspot.getVMOption(flag).getValue() == str(value), flag
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_run_report_counts_jvm_compiles(pipeline_out):
    jvm = pipeline_out[1]["_jvm"]
    assert set(jvm) == {"jit_ms", "codegen_compiles", "codegen_ms"}
    assert all(v >= 0 for v in jvm.values()), jvm


def test_adaptive_shuffle_width(spark, tmp_path):
    """Width tracks input bytes: a small parquet keeps the session floor;
    the same helper scales linearly once the volume crosses the 128MB
    target (regression gate for the sf1.0 spill wall AND for the
    blanket-initialPartitionNum task-storm it must not reintroduce)."""
    from halyard_spark.session import adaptive_shuffle_width

    floor = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = str(tmp_path / "tiny")
    spark.range(1000).write.parquet(p)
    tiny = spark.read.parquet(p)
    assert adaptive_shuffle_width(spark, tiny) == floor

    # expansion=very large simulates a big on-disk input without writing
    # one: width must grow past the floor and respect the cap
    big = adaptive_shuffle_width(spark, tiny, expansion=10_000_000.0)
    assert big > floor
    assert adaptive_shuffle_width(spark, tiny, expansion=1e12, cap=64) == 64

    # a non-file source (in-memory range) must not crash and never
    # returns less than the floor
    assert adaptive_shuffle_width(spark, spark.range(10)) >= floor
