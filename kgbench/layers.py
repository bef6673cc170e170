"""Stage-by-stage pipeline for traced runs.

``run_pipeline`` runs its branches on its own driver threads, which do
not inherit the caller's job group, so the traced run calls the stage
functions directly, each under its own span and job group, in
``run_pipeline``'s order and concurrency: extract, then dictionary ->
link alongside canonicalize, then triples (emission fused with the SPO
write), then the POS/OSP mirrors alongside stats and lineage.  Lineage
bookkeeping and resume are left out.  The caller checks that the store
it writes equals ``run_pipeline``'s.  With a ``trace.NullTracer`` it is
the untraced twin of the traced run.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgbench import trace

PIPELINE_LAYERS = ("extract", "link", "cc", "triples", "materialize", "stats", "lineage")


def _persist(df: DataFrame, path: str) -> DataFrame:
    """Write, read back and count, as ``run_pipeline``'s stages do."""
    df.write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.parquet(path)
    out.count()
    return out


def _canon_inputs(mentions: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Entity edges and universe, as ``run_pipeline`` builds them."""
    from halyard_spark import nt

    defs = mentions.filter(F.col("kind") == "class").select(
        "repo", "path",
        nt.nt_iri(F.format_string("urn:entity:class:%s", F.col("name"))).alias("entity"),
    )
    hubs = defs.groupBy("repo", "path").agg(F.min("entity").alias("hub"))
    edges = (
        defs.join(hubs, ["repo", "path"]).where(F.col("entity") != F.col("hub"))
        .select(F.col("entity").alias("src"), F.col("hub").alias("dst")).distinct()
    )
    entities = (
        mentions.filter(F.col("kind").isin("module", "class", "function"))
        .select("kind", "name").distinct()
        .select(nt.nt_iri(F.format_string("urn:entity:%s:%s", F.col("kind"), F.col("name"))).alias("entity"))
    )
    return edges, entities


def staged_pipeline(spark, tracer, src: DataFrame, out: str) -> str:
    """Build the store under ``out``; returns the store directory."""
    from halyard_spark.pipeline import cc, extract, lineage, link, materialize, stats, triples
    from halyard_spark.session import adaptive_shuffle_width

    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(adaptive_shuffle_width(spark, src)))
    store = f"{out}/store"
    try:
        with tracer.span("pipeline") as top:
            with tracer.span("extract"):
                mentions = _persist(extract.extract_mentions(src), f"{out}/mentions")

            def link_branch() -> DataFrame:
                with tracer.span("link", parent=top):
                    dictionary = _persist(link.build_dictionary(mentions), f"{out}/dictionary")
                    return _persist(
                        link.link_mentions(mentions, dictionary, dict_rows=dictionary.count()),
                        f"{out}/linked",
                    )

            def cc_branch() -> DataFrame:
                with tracer.span("cc", parent=top):
                    return _persist(cc.canonical_map(*_canon_inputs(mentions)), f"{out}/canonical")

            with ThreadPoolExecutor(max_workers=2) as pool:
                f_link, f_cc = pool.submit(link_branch), pool.submit(cc_branch)
                linked, canonical = f_link.result(), f_cc.result()

            src_meta = mentions.where(F.col("kind") == "file").select(
                "repo", "path", "commit", "lang", "content_sha256"
            )
            with tracer.span("triples"):
                emitted = triples.emit_triples(src_meta, mentions, linked, canonical, spark)
                materialize.write_sorted(emitted, f"{store}/spo", materialize.INDEXES["spo"])
                quads = materialize.read_index(spark, store, "spo")
                n_quads = quads.count()

            def mirrors() -> None:
                with tracer.span("materialize", parent=top):
                    materialize.write_mirrors(quads, store, indexes=["pos", "osp"])
                    materialize.write_manifest(store, n_quads, spark=spark)

            def void() -> None:
                with tracer.span("stats", parent=top):
                    _persist(stats.void_stats(quads), f"{out}/void_stats")

            def splits() -> None:
                with tracer.span("lineage", parent=top):
                    _persist(lineage.partition_lineage(mentions, quads), f"{out}/lineage_partitions")

            with ThreadPoolExecutor(max_workers=3) as pool:
                for fut in [pool.submit(mirrors), pool.submit(void), pool.submit(splits)]:
                    fut.result()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)
    return store


def pipeline_metrics(tracer, groups_of, mirror_bytes: list[int]) -> dict[str, float]:
    """Per-layer metrics averaged over the staged pipelines run;
    ``mirror_bytes`` holds each run's on-disk POS+OSP bytes
    (``write_mirrors`` runs its writes on its own threads, outside the
    materialize job group)."""
    runs = len(mirror_bytes)

    def wall(name: str) -> float:
        return sum(s.ms for s in tracer.by_name(name)) / runs

    g = {name: groups_of([name]) for name in PIPELINE_LAYERS}
    own = trace.self_ms(tracer.spans)
    ex = g["extract"]
    return {
        "extract.wall_ms": wall("extract"),
        "extract.task_ms": ex.run_ms / runs,
        "extract.py_sent_bytes": ex.py_sent_bytes / runs,
        "extract.py_returned_bytes": ex.py_returned_bytes / runs,
        "extract.py_start_ms": ex.py_start_ms / runs,
        "extract.py_init_ms": ex.py_init_ms / runs,
        "extract.py_run_ms": ex.py_run_ms / runs,
        "link.wall_ms": wall("link"),
        "link.shuffle_bytes": g["link"].shuffle_write_bytes / runs,
        "cc.wall_ms": wall("cc"),
        "cc.jobs": g["cc"].jobs / runs,
        "cc.shuffle_bytes": g["cc"].shuffle_write_bytes / runs,
        # the two branches overlap: only the longer one can save wall time
        "pipeline.branch_critical_ms": sum(
            max(a.ms, b.ms) for a, b in zip(tracer.by_name("link"), tracer.by_name("cc"))
        ) / runs,
        "triples.wall_ms": wall("triples"),
        "triples.shuffle_bytes": g["triples"].shuffle_write_bytes / runs,
        "triples.spill_bytes": g["triples"].spill_bytes / runs,
        "materialize.wall_ms": wall("materialize"),
        "materialize.bytes_written": sum(mirror_bytes) / runs,
        "stats.wall_ms": wall("stats"),
        "lineage.wall_ms": wall("lineage"),
        # orchestration between stages: pipeline wall minus its stage spans
        "pipeline.self_ms": sum(own[s.id] for s in tracer.by_name("pipeline")) / runs,
    }
