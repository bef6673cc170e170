"""Per-stage lineage + idempotent resume.

Halyard's bulk jobs are resumable at the granularity of an MR job whose
output HFiles are atomically adopted (LoadIncrementalHFiles.doBulkLoad,
tools/.../HalyardBulkLoad.java:567) — a failed run leaves the table at the
previous snapshot.  Our analog (FIXTURES.md A4): every stage writes its
output to parquet and appends a lineage row

    (stage, input_fingerprint, rows_out, wall_ms, run_ts, extra)

where input_fingerprint is an order-independent hash of the stage input.
On re-run, a stage whose (stage, input_fingerprint) matches an existing
lineage row with intact output is SKIPPED — resume is a pure lookup, and
retries overwrite (mode="overwrite") rather than blind-append, so a crash
mid-stage can never double-count.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = "stage string, input_fingerprint string, rows_out long, wall_ms long, run_ts long, extra string"


def fingerprint(df: DataFrame, cols: list[str]) -> str:
    """Order-independent content fingerprint: count + xor of xxhash64."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("s"),
    ).collect()[0]
    return f"{row['n']}:{row['s']}"


def partition_lineage(mentions: DataFrame, triples: DataFrame) -> DataFrame:
    """Per-INPUT-SPLIT lineage rows (north rule): for each repo — the
    pipeline's partitioning unit (`repartitionByRange on (repo, path)`) —
    the file count, an order-independent signature over the per-file
    content sha256s, and the triple count attributed to the repo's named
    graph.  Lets an operator audit exactly which split produced which
    slice of the graph and re-verify content equality split-by-split
    without re-reading the corpus.

    Reads the PERSISTED mentions parquet's kind='file' registry rows
    (exactly one per input file, extract.py) — the corpus `content`
    column is never touched, so this stage costs a narrow 3-column scan
    instead of a third full content read + sha256 pass.  The signature
    hashes (path, sha256) per file: including the path keeps the xor
    combiner duplicate-sensitive — two distinct files with identical
    content no longer cancel to 0 (they hash differently), so adding or
    removing a duplicated file pair always changes the split signature."""
    per_file = mentions.where(F.col("kind") == "file").select(
        "repo", "path", "content_sha256"
    )
    per_src = per_file.groupBy("repo").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.expr("bit_xor(xxhash64(path, content_sha256))").alias("content_sig"),
    )
    graph = F.regexp_extract(F.col("ctx"), r"^<urn:graph:(.*)>$", 1)
    per_triples = (
        triples.where(F.col("ctx").isNotNull())
        .groupBy(graph.alias("repo"))
        .agg(F.count(F.lit(1)).alias("n_triples"))
    )
    return per_src.join(per_triples, "repo", "left").select(
        "repo", "n_files", "content_sig",
        F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
    )


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The lineage rows under ``out_dir``, or None before the first stage
    records one.  A directory that holds no row yet (a crash between
    ``makedirs`` and the first write) reads as 0 rows; a damaged row file
    raises rather than silently turning resume off."""
    path = _lineage_path(out_dir)
    if not os.path.exists(path):
        return None
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path)


def stage_done(spark: SparkSession, out_dir: str, stage: str, input_fp: str, output_path: str) -> bool:
    lin = read_lineage(spark, out_dir)
    if lin is None or not os.path.exists(os.path.join(output_path, "_SUCCESS")):
        return False
    n = (
        lin.where((F.col("stage") == stage) & (F.col("input_fingerprint") == input_fp))
        .limit(1)
        .count()
    )
    return n > 0


def record_stage(
    spark: SparkSession,
    out_dir: str,
    stage: str,
    input_fp: str,
    rows_out: int,
    wall_ms: int,
    extra: dict | None = None,
) -> None:
    """Append one lineage row.  Written directly with pyarrow (driver-side
    metadata, a handful of bytes) — not worth a Spark job per stage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _lineage_path(out_dir)
    os.makedirs(path, exist_ok=True)
    ts = int(time.time())
    table = pa.table(
        {
            "stage": [stage],
            "input_fingerprint": [input_fp],
            "rows_out": [rows_out],
            "wall_ms": [wall_ms],
            "run_ts": [ts],
            "extra": [json.dumps(extra or {})],
        },
        schema=pa.schema(
            [
                ("stage", pa.string()),
                ("input_fingerprint", pa.string()),
                ("rows_out", pa.int64()),
                ("wall_ms", pa.int64()),
                ("run_ts", pa.int64()),
                ("extra", pa.string()),
            ]
        ),
    )
    pq.write_table(table, os.path.join(path, f"{stage}-{ts}-{os.getpid()}.parquet"))
    # mark the dir complete for spark.read compatibility
    open(os.path.join(path, "_SUCCESS"), "a").close()
