"""Stage 5 — materialize the triple store: canonical table + sorted mirrors.

Halyard writes every statement into 3 (triples) or 6 (quads) sorted HBase
row-key permutations — SPO/POS/OSP + CSPO/CPOS/COSP
(common/.../HalyardTableUtils.java:279-287) — so any statement pattern has
an index whose prefix covers its bound terms.  The Spark-native analog:

- SPO/POS/OSP **sorted mirrors**: ``repartitionByRange(sort_keys)`` +
  ``sortWithinPartitions(sort_keys)`` parquet writes.  Range partitioning
  samples boundaries exactly like HalyardPreSplit samples region splits
  (tools/.../HalyardPreSplit.java:73-132); the per-file parquet min/max
  column statistics then prune scans the way HBase start/stop rows do.
  The mirrors ARE the store, as in the reference — no separate canonical
  copy (3x write amplification, matching HalyardTableUtils.java:267).
- the context column subsumes the C* permutations: ctx leads the SPO sort
  order, so per-graph scans prune by row-group min/max.  A ctx *partition
  column* (hive-style partitionBy) is deliberately avoided: named-graph
  cardinality grows with repo count (one graph per repo), and
  high-cardinality partitionBy writes millions of tiny files at scale.
- full values live in the columns — no hash-collision re-check needed,
  unlike HBaseSail.java:756-761.

On Iceberg-enabled clusters these become Iceberg tables with
``write.sort-order``; parquet keeps identical semantics in this sandbox
(import-gated, no Iceberg jar here).
"""

from __future__ import annotations

import json
import os
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

INDEXES = {
    "spo": ["ctx", "subj", "pred", "obj"],  # ctx leads: per-graph pruning
    "pos": ["pred", "obj", "subj"],
    "osp": ["obj", "subj", "pred"],
}

# Parquet data-page size of every mirror write.  A scan skips whole pages
# by the page index's per-page min/max, so the page is the unit of a
# point lookup's read; parquet's 1 MB default stops at its 20,000-row
# page cap on these narrow sorted columns.  PAGE_BYTES comes from a sweep
# on the kgbench store (README "Scale design notes"): smaller pages read
# fewer rows per lookup and write more bytes.
PAGE_BYTES = 8 * 1024


def write_sorted(df: DataFrame, path: str, keys: list[str]) -> None:
    """Range-partition + sort + parquet write for one index order.

    The partition count is left to AQE: an un-numbered
    ``repartitionByRange`` is an AQE-coalescable shuffle, so it starts at
    ``initialPartitionNum`` ranges and merges down to the advisory
    partition size — file count tracks DATA VOLUME instead of a session
    constant (a pinned count meant ~7M-row external-sort spills at the
    sf1.0 rehearsal, and would mean 32 multi-TB files at 100 TB)."""
    part = df.repartitionByRange(*[F.col(k) for k in keys])
    (part.sortWithinPartitions(*keys).write.mode("overwrite")
     .option("parquet.page.size", PAGE_BYTES).parquet(path))


def write_mirrors(cached: DataFrame, out_dir: str, indexes: list[str] | None = None) -> None:
    """Write sorted index mirrors as concurrent jobs.  The input MUST
    already be materialized (a parquet read, or a cache filled by a single
    job): uncoordinated cache fills racing across concurrent jobs
    recompute and re-encode the same partitions up to 3x (measured 5-10x
    tail collapses at 32 slots)."""
    from concurrent.futures import ThreadPoolExecutor

    items = [(name, INDEXES[name]) for name in (indexes or list(INDEXES))]

    def write_one(item):
        name, keys = item
        write_sorted(cached, f"{out_dir}/{name}", keys)

    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        list(pool.map(write_one, items))


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg runtime is on the session's classpath (the
    cluster deployment target; this sandbox has no Iceberg jar)."""
    name = "org.apache.iceberg.spark.SparkCatalog"
    try:
        # Spark's own loader sees jars added via --packages/spark.jars
        # (py4j's Class.forName consults only the system classloader and
        # would report False on exactly the clusters this targets)
        spark._jvm.org.apache.spark.util.Utils.classForName(name, True, False)
        return True
    except Py4JJavaError:
        try:
            spark._jvm.java.lang.Class.forName(name)
            return True
        except Py4JJavaError:
            return False


def write_sorted_iceberg(df: DataFrame, table: str, keys: list[str]) -> None:
    """Iceberg form of write_sorted: same repartitionByRange +
    sortWithinPartitions physical shape (the file-level sort that powers
    min/max pruning), committed through writeTo(...).createOrReplace() —
    an ATOMIC snapshot commit, the LoadIncrementalHFiles doBulkLoad analog
    (HalyardBulkLoad.java:548-567).  The dataframe transformation is
    identical to the parquet path, so every plan gate that verifies the
    parquet shape verifies this one; only the committer differs."""
    part = df.repartitionByRange(*[F.col(k) for k in keys])
    part.sortWithinPartitions(*keys).writeTo(table).using("iceberg").createOrReplace()


def write_manifest(out_dir: str, count: int, spark: SparkSession | None = None) -> dict:
    manifest = {
        "snapshot_ts": int(time.time()),
        "triple_count": count,
        "indexes": list(INDEXES),
    }
    text = json.dumps(manifest, indent=2)
    if "://" in out_dir and not out_dir.startswith("file://"):
        # the mirrors went through Hadoop-FS writers; the manifest must
        # land on the SAME filesystem, not a literal 's3:/...' local dir
        if spark is None:
            raise ValueError(
                "write_manifest: a SparkSession is required for non-local "
                f"store paths ({out_dir!r})"
            )
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(out_dir + "/manifest.json")
        fs = path.getFileSystem(conf)
        out = fs.create(path, True)
        out.write(bytearray(text.encode()))
        out.close()
        return manifest
    local = out_dir[len("file://"):] if out_dir.startswith("file://") else out_dir
    os.makedirs(local, exist_ok=True)
    with open(os.path.join(local, "manifest.json"), "w") as f:
        f.write(text)
    return manifest


def write_store(triples: DataFrame, out_dir: str) -> dict:
    """Write the 3 sorted index mirrors; returns a snapshot manifest.

    The input is cached once (each mirror's range-sampling pass + full
    shuffle otherwise re-reads the source 2x3 times), and the three writes
    run as CONCURRENT jobs from driver threads — Spark schedules their
    tasks together, overlapping the per-job sampling/commit latency the
    way the reference overlaps its three index families inside one MR
    shuffle (HalyardBulkLoad emits all 3 KV permutations in one job).

    The cache is MATERIALIZED (count) before the concurrent writes launch:
    cache fills are not coordinated across jobs, so three jobs racing the
    same cold cache each recompute+re-encode the same partitions
    (dictionary-encoded columnar build x3) — measured 5-10x tail-stage
    collapses at 32 slots; a pre-materialized cache is stable.
    """
    spark = triples.sparkSession
    cached = triples.persist()
    try:
        count = cached.count()  # single-job cache fill, then fan out
        write_mirrors(cached, out_dir)
    finally:
        cached.unpersist()
    return write_manifest(out_dir, count, spark=spark)


def read_index(spark: SparkSession, store_dir: str, index: str = "spo") -> DataFrame:
    return spark.read.parquet(f"{store_dir}/{index}")


class StoreFrame(ClassicDataFrame):
    """A written store: a DataFrame over its SPO mirror that also reads
    the POS and OSP mirrors, each on first use.  Every DataFrame method
    works on it and returns a plain frame of the SPO rows, so a caller
    that filters, joins or updates it sees one quad table; the SPARQL
    planner asks ``mirror`` for the sort order ``pick_index`` names."""

    @classmethod
    def read(cls, spark: SparkSession, store_dir: str) -> "StoreFrame":
        store = cls(read_index(spark, store_dir, "spo")._jdf, spark)
        store.store_dir = store_dir
        store._mirrors = {}
        return store

    def mirror(self, index: str) -> DataFrame:
        """The ``index`` mirror, read once and kept: its file listing and
        footers are not re-read per query.  Two threads asking at once
        may both read it; either frame serves."""
        if index == "spo":
            return self
        df = self._mirrors.get(index)
        if df is None:
            df = self._mirrors[index] = read_index(self.sparkSession, self.store_dir, index)
        return df


def pick_index(s_bound: bool, p_bound: bool, o_bound: bool) -> str:
    """Index selection for a statement pattern — the 16-way dispatch of
    HalyardTableUtils.java:300-373 reduced to 3 sort orders: the mirror
    whose leading keys cover the bound terms.

    Trade-off note: the SPO mirror is CTX-LED, so a subject-bound lookup
    with ctx unbound skips pages only within each graph's run of the
    sort.  On the kgbench store (60,860 quads, 8 KB pages; rows read per
    query from the event log, SKILL.md "Rows read per query class")
    ``<s> ?p ?o`` reads 431 rows ctx-led, where a subject-led SPO read
    200 in a prototype; ``GRAPH <g> { ?s <p> ?o }`` reads 300 rows
    ctx-led, where POS read 25,100.  Named-graph scans keep the leading
    key; the reference pays six permutations for both, this store
    three.  Every pattern pushes its filters down whichever mirror it
    scans (PushedFilters plan gates), so the choice moves rows read,
    never results."""
    if s_bound:
        return "spo"
    if p_bound:
        return "pos"
    if o_bound:
        return "osp"
    return "spo"
