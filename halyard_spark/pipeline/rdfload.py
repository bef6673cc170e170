"""RDF-file bulk load — the `halyard bulkload` tool composition for RDF
inputs (vs run.run_pipeline, the source-code KG-construct path).

Reference shape (tools/.../HalyardBulkLoad.java:502-573): RDF files of
any RIO-registered format -> parse -> KeyValue permutations ->
shuffle-sort -> HFiles -> atomic adopt into the (optionally truncated)
table, with a default/override named-graph option.  Spark-native: the
extension-dispatched readers (sources/rio.read_rdf) produce one quad
DataFrame; graph options are column rewrites; the store write is the
range-sorted mirror materialization (pipeline/materialize.write_store).
Loading into an EXISTING store unions with the current SPO mirror under
set semantics (HBase cells for identical quads coincide naturally;
`truncate=True` mirrors the reference's truncate-before-load option).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from halyard_spark.pipeline import materialize
from halyard_spark.sources.rio import read_rdf


def bulk_load_rdf(
    spark: SparkSession,
    path: str,
    out_dir: str,
    default_graph: str | None = None,
    override_graph: str | None = None,
    truncate: bool = False,
) -> dict:
    """Load RDF files (glob ok; format by extension) into a sorted store.

    default_graph: N-Triples IRI used for statements WITHOUT a context
    (the reference's default-named-graph option); override_graph forces
    EVERY statement into one graph (the override option,
    HalyardBulkLoad.java:521-536).  Returns the snapshot manifest, whose
    ``parse_metrics`` entry carries the dirty-parse skip counts
    (files_failed / statements_skipped / files_skipped_unknown_ext) —
    the ParserPump per-file failure-reporting analog, so a load that
    silently drops input is visible in the manifest it leaves behind.
    """
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return _bulk_load_rdf(spark, path, out_dir, default_graph, override_graph, truncate)
    finally:
        # restore: leaking a load-sized width would ratchet every later
        # job on this session up to it (code-review regression)
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)


def _bulk_load_rdf(
    spark: SparkSession,
    path: str,
    out_dir: str,
    default_graph: str | None,
    override_graph: str | None,
    truncate: bool,
) -> dict:
    from halyard_spark.session import adaptive_shuffle_width
    from halyard_spark.sources.metrics import ParseMetrics

    metrics = ParseMetrics(spark)
    quads = read_rdf(spark, path, metrics=metrics)
    # sort width tracks THIS load's input bytes (same spill-wall fix as
    # run_pipeline): a terabyte load must range-sort across hundreds of
    # partitions, a fixture load keeps the core-count width
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(adaptive_shuffle_width(spark, quads)),
    )
    if override_graph is not None:
        quads = quads.withColumn("ctx", F.lit(override_graph))
    elif default_graph is not None:
        quads = quads.withColumn("ctx", F.coalesce(F.col("ctx"), F.lit(default_graph)))

    store_dir = os.path.join(out_dir, "store")
    existing = os.path.join(store_dir, "spo")
    incremental = not truncate and os.path.exists(existing)
    if incremental:
        current = materialize.read_index(spark, store_dir, "spo")
        quads = current.unionByName(quads)
    # set semantics: identical quads coincide (HBase cell identity)
    quads = quads.dropDuplicates(["subj", "pred", "obj", "ctx"])
    if incremental:
        # pin BEFORE overwrite: the union lazily reads the very parquet
        # the store write replaces (read-overwrite-same-path hazard)
        quads = quads.localCheckpoint(eager=True)
    manifest = materialize.write_store(quads, store_dir)
    # snapshot AFTER the write action: accumulators/observations have run
    manifest["parse_metrics"] = metrics.snapshot()
    return manifest


def load_dataset(spark: SparkSession, store_dir: str) -> materialize.StoreFrame:
    """The loaded store as a quad DataFrame over its SPO mirror that also
    holds the POS and OSP mirrors, read on first use: query/sparql's
    planner scans the mirror that covers each pattern's bound terms."""
    return materialize.StoreFrame.read(spark, store_dir)
