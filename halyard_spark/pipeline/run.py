"""End-to-end pipeline orchestration (the `halyard bulkload` analog).

src table -> extract -> link -> canonicalize -> triples -> materialize
-> stats, with per-stage lineage + resume.  Every stage persists to
parquet under ``out_dir`` and is skipped on re-run when its input
fingerprint already has a lineage row (idempotent resume,
pipeline/lineage.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from halyard_spark import nt
from halyard_spark.pipeline import cc, extract, lineage, link, materialize, stats, triples
from halyard_spark.session import adaptive_shuffle_width, jvm_counters


def _entity_edges(mentions: DataFrame) -> DataFrame:
    """sameAs candidate edges: entities co-defined in the same file.

    Star-per-file (each entity -> lexicographic-min entity of its file)
    keeps edge count linear in mention count — no quadratic per-file blowup
    even for god-files in the mega-repo.
    """
    defs = mentions.filter(F.col("kind") == "class").select(
        "repo",
        "path",
        nt.nt_iri(F.format_string("urn:entity:class:%s", F.col("name"))).alias("entity"),
    )
    hubs = defs.groupBy("repo", "path").agg(F.min("entity").alias("hub"))
    return (
        defs.join(hubs, ["repo", "path"])
        .where(F.col("entity") != F.col("hub"))
        .select(F.col("entity").alias("src"), F.col("hub").alias("dst"))
        .distinct()
    )


def run_pipeline(
    spark: SparkSession,
    src: DataFrame,
    out_dir: str,
    resume: bool = True,
) -> dict:
    """Run all stages; returns {stage: {rows, wall_ms, skipped}} + totals,
    plus ``_jvm``: the driver JVM's JIT and Janino compile counters over
    the run (``session.jvm_counters`` deltas; process-wide, so work on
    other threads during the run is in them too).

    Restores ``spark.sql.shuffle.partitions`` on exit: the run widens it
    to its own input volume, and leaking that width would ratchet every
    later job on the same session up to it (code-review regression)."""
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    jvm0 = jvm_counters(spark)
    try:
        report = _run_pipeline(spark, src, out_dir, resume)
        report["_jvm"] = {k: round(v - jvm0[k], 1) for k, v in jvm_counters(spark).items()}
        return report
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)


def _run_pipeline(
    spark: SparkSession,
    src: DataFrame,
    out_dir: str,
    resume: bool,
) -> dict:
    report: dict = {}
    t_start = time.time()
    # shuffle width tracks THIS run's input volume (sf1.0 rehearsal: a
    # core-count width spills every sort at 20x data; a blanket-wide
    # initialPartitionNum costs 5-20x in task overhead at bench scale) —
    # size once from the source bytes, before any stage plans a shuffle
    width = adaptive_shuffle_width(spark, src)
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    report["_conf"] = {"shuffle_partitions": width}
    src_fp = lineage.fingerprint(src, ["repo", "path", "commit"])

    stage_fp = {"fp": src_fp}  # extract keys on the source; later stages on the chain

    def run_stage(name: str, out_path: str, builder) -> DataFrame:
        t0 = time.time()
        fp = stage_fp["fp"]
        if resume and lineage.stage_done(spark, out_dir, name, fp, out_path):
            df = spark.read.parquet(out_path)
            report[name] = {"rows": df.count(), "wall_ms": int((time.time() - t0) * 1000), "skipped": True}
            return df
        df = builder()
        df.write.mode("overwrite").parquet(out_path)
        out = spark.read.parquet(out_path)
        rows = out.count()
        wall = int((time.time() - t0) * 1000)
        lineage.record_stage(spark, out_dir, name, fp, rows, wall)
        report[name] = {"rows": rows, "wall_ms": wall, "skipped": False}
        return out

    mentions = run_stage("extract", f"{out_dir}/mentions", lambda: extract.extract_mentions(src))

    # CHAINED stage fingerprint: downstream stages key their lineage rows
    # on the content of their actual input (the persisted mentions), not
    # only on the pipeline source — so force-re-running extract (deleting
    # its output, or a code change yielding different mentions) also
    # invalidates every dependent stage instead of resume silently mixing
    # new mentions with stale downstream outputs.  One narrow agg job.
    mentions_fp = src_fp + "|" + lineage.fingerprint(
        mentions, ["repo", "path", "kind", "name", "content_sha256"]
    )
    stage_fp["fp"] = mentions_fp

    # Two independent branches after extract, as CONCURRENT driver threads:
    #   (a) dictionary -> link   (b) canonicalize (entity edges -> CC).
    # Canonicalize derives its entity universe straight from definition
    # mentions (the same (kind, name) set the dictionary keys on), so it
    # does NOT wait for the dictionary stage.  The scheduler interleaves
    # the branches' jobs, hiding CC's latency-bound convergence rounds
    # behind the link branch's compute; lineage/resume stays per-stage.
    from concurrent.futures import ThreadPoolExecutor

    def build_dict_then_link() -> tuple[DataFrame, DataFrame]:
        dictionary = run_stage(
            "dictionary", f"{out_dir}/dictionary", lambda: link.build_dictionary(mentions)
        )
        linked = run_stage(
            "link",
            f"{out_dir}/linked",
            # the dictionary stage just counted its output — reuse it so
            # the broadcast-or-shuffle probe costs no extra driver job
            lambda: link.link_mentions(
                mentions, dictionary, dict_rows=report["dictionary"]["rows"],
            ),
        )
        return dictionary, linked

    def build_canon() -> DataFrame:
        def canon() -> DataFrame:
            edges = _entity_edges(mentions)
            all_entities = (
                mentions.filter(F.col("kind").isin("module", "class", "function"))
                .select("kind", "name")
                .distinct()
                .select(
                    nt.nt_iri(
                        F.format_string("urn:entity:%s:%s", F.col("kind"), F.col("name"))
                    ).alias("entity")
                )
            )
            return cc.canonical_map(edges, all_entities)

        return run_stage("canonicalize", f"{out_dir}/canonical", canon)

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_link = pool.submit(build_dict_then_link)
        f_canon = pool.submit(build_canon)
        dictionary, linked = f_link.result()
        canonical = f_canon.result()

    # per-file metadata from the PERSISTED mentions registry (kind='file',
    # exactly one row per input file) — the sha256 was already computed in
    # the extract stage; rebuilding it from src would be a second full
    # scan + hash of the corpus' widest column, and would run even when
    # extract was resumed from parquet
    src_meta = mentions.where(F.col("kind") == "file").select(
        "repo", "path", "commit", "lang", "content_sha256"
    )

    # Triple emission is FUSED with materialization: the "triples" stage
    # writes the emitted quads DIRECTLY as the range-sorted SPO mirror —
    # the SPO mirror IS the canonical table (the mirrors are the store, 3x
    # write amplification exactly like HalyardTableUtils.java:267), so a
    # separate quads copy would be a 4th full write + read of every quad.
    # POS/OSP mirrors and stats then fan out from the SPO parquet read:
    # the vectorized parquet reader beats the in-memory columnar cache
    # here — dictionary encode/decode of high-cardinality term strings
    # made cached scans 2-3x SLOWER than parquet re-reads at 23M quads.
    store_dir = f"{out_dir}/store"
    spo_path = f"{store_dir}/spo"

    t0 = time.time()
    resumed_tail = resume and lineage.stage_done(spark, out_dir, "triples", stage_fp["fp"], spo_path)
    if not resumed_tail:
        emitted = triples.emit_triples(src_meta, mentions, linked, canonical, spark)
        # NOT cached/checkpointed before the range write, despite the
        # sampling pass re-evaluating the emit chain: an r6 interleaved
        # A/B measured the lazy row-cache variant at 22-23 s for this
        # stage vs 12.5-13 s recomputing (string-heavy quad rows make
        # the cache fill + GC churn cost more than the second pass) —
        # the row-cache analog of the columnar-cache rejection noted in
        # pipeline/materialize.py.
        materialize.write_sorted(emitted, spo_path, materialize.INDEXES["spo"])
    quads = materialize.read_index(spark, store_dir, "spo")
    triple_count = quads.count()  # footer-only (parquet aggregate pushdown)
    wall = int((time.time() - t0) * 1000)
    if not resumed_tail:
        lineage.record_stage(spark, out_dir, "triples", stage_fp["fp"], triple_count, wall)
    report["triples"] = {"rows": triple_count, "wall_ms": wall, "skipped": resumed_tail}

    def do_materialize() -> None:
        t1 = time.time()
        if resume and lineage.stage_done(spark, out_dir, "materialize", stage_fp["fp"], f"{store_dir}/pos"):
            report["materialize"] = {"rows": triple_count, "wall_ms": 0, "skipped": True}
            return
        materialize.write_mirrors(quads, store_dir, indexes=["pos", "osp"])
        manifest = materialize.write_manifest(store_dir, triple_count, spark=spark)
        w = int((time.time() - t1) * 1000)
        lineage.record_stage(spark, out_dir, "materialize", stage_fp["fp"], triple_count, w, manifest)
        report["materialize"] = {"rows": triple_count, "wall_ms": w, "skipped": False}

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_mat = pool.submit(do_materialize)
        f_stats = pool.submit(
            run_stage, "stats", f"{out_dir}/void_stats", lambda: stats.void_stats(quads)
        )
        # per-input-split lineage (north rule): repo -> (n_files, content
        # sha256 signature, triple count) — split-by-split auditability.
        # Aggregates the persisted mentions file registry: no content
        # re-read (the corpus' widest column stays untouched here).
        f_plin = pool.submit(
            run_stage,
            "partition_lineage",
            f"{out_dir}/lineage_partitions",
            lambda: lineage.partition_lineage(mentions, quads),
        )
        f_mat.result()
        f_stats.result()
        f_plin.result()

    total_wall = time.time() - t_start
    report["_total"] = {
        "wall_sec": round(total_wall, 3),
        "triples": triple_count,
        "triples_per_sec": round(triple_count / total_wall, 1),
    }
    return report
