"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-plan + skew-join splitting replaces Halyard's manual
forkAndFilterBy parallel split, tools/.../ParallelSplitFunction.java:52-70),
shuffle partitions sized to cores (not the 200 default), Arrow enabled for
every pandas-UDF exchange.

The driver JVM runs every stage in ``local[N]``, so HotSpot's compiler
threads share the task threads' cores.  Split by JVM thread, one cold
``run_pipeline`` over the kgbench corpus (4 cores, JDK 17) spent ~31
CPU-s in the C2 compiler threads against ~15 s in the executor task
threads: C2 was the largest consumer, and most of what it compiled was
lukewarm framework code (Spark SQL planning, Java serialization, the
closure cleaner's ASM, Janino, ANTLR), not generated per-row code.
``C2_THRESHOLDS`` raises the Tier-4 (C2) thresholds 10x over the JDK 17
defaults so that only code that stays hot reaches C2.  Tiers 1-3 (C1
and its profiling) are untouched, so per-row loops still reach C2 within
milliseconds at scale.  A sweep of 5x / 10x / 20x on the kgbench corpus
and on a 20x corpus picked 10x: C2 CPU drops by ~45% at both sizes and
executor CPU stays within the default's run-to-run range.  20x cut C2
further but raised executor CPU on the 20x corpus above that range
(cold ~99 s against 78-93 s).  C1 only (``TieredStopAtLevel=1``) is
rejected: it cuts the small corpus's CPU the most but makes the 20x
corpus's executor threads and wall much slower (README, "Scale design
notes").

Start-up.  A cold driver JVM loads about 17,000 classes from Spark's 287
jars before the session exists, and a bulk load pays that once per
invocation, as Halyard's one-JVM ``bulkload`` tool does.  ``get_spark``
starts the JVM from a dynamic class-data-sharing (AppCDS) archive,
``<checkout>/.jvm_cache/<key>.jsa``, keyed on the JDK build and the
driver classpath (``archive_key``).  With no archive, the JVM dumps one
at exit (``-XX:ArchiveClassesAtExit``) to ``<key>.<pid>.part``.  An
atexit hook closes the JVM's stdin, waits for it, and renames the part
file only when the JVM exited 0: JDK 17 crashes at start when it maps a
truncated archive, so a part file of a dead process is deleted, never
mapped.  The launcher puts ``SPARK_CONF_DIR`` on the classpath and CDS
accepts only empty directories there, so the JVM is launched with an
empty ``.jvm_cache/conf``; a ``$SPARK_HOME/conf`` with anything but
templates, a set ``SPARK_CONF_DIR`` or the caller's own CDS flags mean
no archive.  On a 4-core host, ``get_spark`` plus one job loaded 19,300
classes, none from an archive, with ``session_s`` 7.8 s; started from
the archive, 17,000 classes, 11,400 of them from it, in 2.9 s.  The
dumping process's exit waited 9.2 s for the 142 MB dump.  kgbench, 12
alternating pairs: kg_build ``setup_s`` median 6.00 -> 3.34 s,
sparql_read 14.17 -> 8.63 s.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import tempfile
from urllib.parse import unquote, urlparse

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType

# Sized from the host: the CPUs this process may run on, and a share of
# the memory still free for the driver heap (local mode runs every task
# in it).  SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override both.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
DRIVER_MEM_SHARE = 0.5  # of MemAvailable
DRIVER_MEM_CAP_MB = 64 * 1024

# JDK 17 Tier-4 defaults x10 (see the module docstring).
C2_THRESHOLDS = {
    "Tier4InvocationThreshold": 50000,
    "Tier4MinInvocationThreshold": 6000,
    "Tier4CompileThreshold": 150000,
    "Tier4BackEdgeThreshold": 400000,
}
# Generated classes kept by Spark's codegen cache (default 100).  One
# cold run_pipeline compiles 187 classes in Janino, so with the default a
# second run in the same session compiled most of them again.  The whole
# Tier-1 suite, in one session, generates 3,416 distinct classes; this
# bound holds all of them.
CODEGEN_CACHE_ENTRIES = 4096

# The driver JVM's class-data-sharing archives (module docstring,
# "Start-up"): beside the package, in the checkout, where a caller's
# cleanup of TMPDIR or spark.local.dir does not reach.
CDS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".jvm_cache")
# A caller's option naming any of these keeps the engine's CDS flags out.
CDS_CALLER_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
# Unified logging writes to stdout by default, and a dump logs ~700 [cds]
# warnings (signed jars, generated classes); callers read results there.
CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=error:stderr"
# How long a process's exit waits for its JVM's dump (a few seconds here)
# before it kills the JVM and deletes the part file.
DUMP_WAIT_S = 300
# (gateway process, part file, archive) of each dumping JVM this process started
_DUMPS: list[tuple[subprocess.Popen, str, str]] = []


def driver_java_options(caller: str | None = None, cds: str = "") -> str:
    """The driver JVM's options: the engine's C2 thresholds and ``cds``
    flags, then the caller's own ``spark.driver.extraJavaOptions``.
    HotSpot keeps the last value of a repeated flag, so the caller's
    options go last and win."""
    ours = " ".join([f"-XX:{k}={v}" for k, v in C2_THRESHOLDS.items()] + ([cds] if cds else []))
    return f"{ours} {caller}" if caller else ours


def jdk_id(java_home: str | None = None) -> str | None:
    """The JDK build the launcher will run (``JAVA_HOME``, else ``java`` on
    PATH, as ``spark-class`` picks it): its ``release`` file and the size
    and mtime of its ``libjvm.so``; None when either is missing."""
    if java_home is None:
        java = shutil.which("java")
        java_home = os.environ.get("JAVA_HOME") or (
            os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else ""
        )
    try:
        with open(os.path.join(java_home, "release")) as f:
            release = f.read()
        st = os.stat(os.path.join(java_home, "lib", "server", "libjvm.so"))
    except OSError:
        return None
    return f"{release}{st.st_size}:{st.st_mtime_ns}"


def archive_key(jdk: str, jars_dir: str, extra_classpath: str = "") -> str:
    """The archive name for a JDK build and a driver classpath: the JVM
    maps an archive only when both match the ones that dumped it."""
    h = hashlib.sha1(jdk.encode())
    for name in sorted(os.listdir(jars_dir)):
        h.update(f"{name}:{os.path.getsize(os.path.join(jars_dir, name))}\n".encode())
    h.update(extra_classpath.encode())
    return h.hexdigest()[:16]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _publish(returncode: int | None, part: str, jsa: str) -> None:
    """Give a finished dump its archive name; delete it when its JVM
    failed (JDK 17 crashes at start on a truncated archive)."""
    try:
        if returncode == 0:
            os.replace(part, jsa)
        else:
            os.remove(part)
    except FileNotFoundError:
        pass


def _finish_dumps() -> None:
    """At exit: end each dumping JVM (the gateway exits when its stdin
    closes), wait for its dump, and publish or delete its part file."""
    while _DUMPS:
        proc, part, jsa = _DUMPS.pop()
        if proc.poll() is None:
            proc.stdin.close()
            try:
                proc.wait(timeout=DUMP_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _publish(proc.returncode, part, jsa)


def _cds_plan(spark_home: str, caller: str, extra_classpath: str) -> tuple[str, tuple[str, str] | None]:
    """The CDS flags for the driver JVM about to launch, and the (part,
    archive) pair when that JVM is to dump a new archive.  No flags when
    the caller sets its own, when a conf dir may hold real settings, or
    when the cache directory cannot be used."""
    conf_dir = os.path.join(spark_home, "conf")
    jars_dir = os.path.join(spark_home, "jars")
    jdk = jdk_id()
    if (
        jdk is None
        or any(f in caller for f in CDS_CALLER_FLAGS)
        or "SPARK_CONF_DIR" in os.environ
        or (os.path.isdir(conf_dir) and not all(n.endswith(".template") for n in os.listdir(conf_dir)))
        or any(c.isspace() for c in CDS_DIR)  # the launcher splits options on whitespace
        or not os.path.isdir(jars_dir)
    ):
        return "", None
    try:
        os.makedirs(os.path.join(CDS_DIR, "conf"), exist_ok=True)
        names = os.listdir(CDS_DIR)
    except OSError:
        return "", None
    if os.listdir(os.path.join(CDS_DIR, "conf")):
        return "", None  # the JVM maps and dumps only with empty classpath dirs
    for d in [d for d in _DUMPS if d[0].poll() is not None]:
        _DUMPS.remove(d)
        _publish(d[0].returncode, d[1], d[2])
    for name in names:  # <key>.<pid>.part of a process that died before publishing
        pid = name.split(".")[1] if name.endswith(".part") else ""
        if pid.isdigit() and not _pid_alive(int(pid)):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(CDS_DIR, name))
    jsa = os.path.join(CDS_DIR, archive_key(jdk, jars_dir, extra_classpath) + ".jsa")
    if os.path.exists(jsa):
        return f"-XX:SharedArchiveFile={jsa} {CDS_LOG}", None
    # a second dump of this process would reuse the part name of one still running
    if _DUMPS or not os.access(CDS_DIR, os.W_OK):
        return "", None
    part = f"{jsa[:-4]}.{os.getpid()}.part"
    return f"-XX:ArchiveClassesAtExit={part} {CDS_LOG}", (part, jsa)


def driver_memory_for(meminfo: str) -> str:
    """The driver heap for a host whose ``/proc/meminfo`` text is
    ``meminfo``: half of MemAvailable, with a 1 GB floor and a 64 GB cap.
    MemAvailable, not MemTotal, so that a second session on the host
    (a script beside a test run) does not ask for memory the first one
    already holds."""
    avail_kb = next(
        int(line.split()[1]) for line in meminfo.splitlines() if line.startswith("MemAvailable:")
    )
    mb = int(avail_kb / 1024 * DRIVER_MEM_SHARE)
    return f"{max(1024, min(DRIVER_MEM_CAP_MB, mb))}m"


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else :func:`driver_memory_for` this host."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        return driver_memory_for(f.read())


def _local_dir() -> str:
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return tempfile.gettempdir()


def _ship_package(spark: SparkSession) -> None:
    """Ship halyard_spark to executors (the `spark-submit --py-files` analog).

    mapInPandas closures reference this package by module name; workers
    must be able to import it no matter where the driver was launched.
    """
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # CONTENT-ADDRESSED zip name: the cache key hashes every source
    # file's (path, mtime, size), so editing the package invalidates the
    # shipped copy (an existence-only check made workers run stale code
    # after any edit) and concurrent drivers with identical sources
    # share one artifact safely.
    h = hashlib.sha1()
    for root, _, files in sorted(os.walk(pkg_dir)):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            fp = os.path.join(root, f)
            st = os.stat(fp)
            h.update(f"{fp}:{st.st_mtime_ns}:{st.st_size}".encode())
    zip_base = os.path.join(
        tempfile.gettempdir(), f"halyard_spark_pyfiles_{h.hexdigest()[:16]}"
    )
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        # build under a unique temp name, then atomic rename: a racing
        # driver never observes (or ships) a truncated zip
        tmp = shutil.make_archive(
            f"{zip_base}.{os.getpid()}", "zip", os.path.dirname(pkg_dir), "halyard_spark"
        )
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def get_spark(
    cpus: int | None = None,
    app_name: str = "halyard_spark",
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    At cluster scale these same configs apply; only ``master`` changes to
    YARN/K8s.  AQE handles runtime coalescing and skew-join splitting so a
    plan tuned at sf0.01 still holds at 100 TB.
    """
    cpus = cpus or DEFAULT_CPUS
    conf = dict(extra_conf or {})
    if "spark.local.dir" not in conf:
        # shuffle/spill on tmpfs when available: local-mode shuffles are
        # disk round-trips on the driver host
        conf["spark.local.dir"] = _local_dir()
    caller = conf.get("spark.driver.extraJavaOptions", "")
    cds, dump = "", None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cds, dump = _cds_plan(
            _find_spark_home(), caller, conf.get("spark.driver.extraClassPath", "")
        )
    conf["spark.driver.extraJavaOptions"] = driver_java_options(caller, cds)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Core-count width.  run_pipeline re-sizes it per job from its own
        # input (adaptive_shuffle_width); a blanket-high initialPartitionNum
        # instead turned every small shuffle into ~1024 tiny tasks and cost
        # 5-20x on shuffle-iterating stages (CC rounds, LSH band joins).
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # PySpark's per-call origin capture: a stack walk and 5-7 py4j
        # round trips per Column/functions call, to label errors
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds:
        # the launcher puts SPARK_CONF_DIR on the classpath, and the JVM
        # dumps and maps an archive only with empty directories there
        os.environ["SPARK_CONF_DIR"] = os.path.join(CDS_DIR, "conf")
    try:
        spark = builder.getOrCreate()
    finally:
        if cds:
            del os.environ["SPARK_CONF_DIR"]
    if dump:
        atexit.unregister(_finish_dumps)  # one hook, however many dumps
        atexit.register(_finish_dumps)
        _DUMPS.append((SparkContext._gateway.proc, *dump))
    spark.sparkContext.setLogLevel("WARN")
    # re-adding the same zip to a running context only logs a warning
    _ship_package(spark)
    return spark


def jvm_counters(spark: SparkSession) -> dict:
    """The driver JVM's compile counters so far: HotSpot JIT time (all
    compiler threads, ms) and Spark's Janino compiles (count and ms of
    generated-class compiles, i.e. codegen cache misses).  They are
    process-wide: a caller that wants one job's share takes a delta."""
    jvm = spark.sparkContext._jvm
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "jit_ms": int(jit.getTotalCompilationTime()),
        "codegen_compiles": int(codegen.METRIC_COMPILATION_TIME().getCount()),
        "codegen_ms": round(
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e6, 1
        ),
    }


def _local_bytes(uris: list[str]) -> int | None:
    """On-disk bytes of a scan's ``inputFiles()``, or None when any of
    them is not a local file."""
    total = 0
    for uri in uris:
        p = urlparse(uri)
        path = unquote(p.path)
        if p.scheme not in ("file", "") or not os.path.exists(path):
            return None
        total += os.path.getsize(path)
    return total


def adaptive_shuffle_width(spark: SparkSession, df, expansion: float = 4.0,
                           target_mb: int = 128, cap: int = 4096) -> int:
    """Shuffle width sized to a job's INPUT volume.

    The sf1.0 rehearsal showed why width cannot be a session constant:
    at 20x the routine corpus every sort/join partition crossed the
    external-sort spill threshold (4-5x/unit super-linear stage walls),
    while a blanket-wide initialPartitionNum made small runs 5-20x
    slower in pure task overhead.  This sizes width from the bytes the
    job will actually shuffle: on-disk input size (parquet footers via
    inputFiles) times an ``expansion`` factor for decompression +
    row-object overhead, divided into ``target_mb`` partitions, floored
    at the session's core-count width and capped at ``cap``.  Callers
    set ``spark.sql.shuffle.partitions`` (a runtime conf) with the
    result before running their stages; AQE still coalesces the small
    tail stages below it.

    The floor is the session's CORE-COUNT width, not the current conf
    value: a prior wide job sets spark.sql.shuffle.partitions high, and
    flooring at the conf would ratchet every later small job up to that
    width permanently (code-review regression) — exactly the per-task
    overhead cliff this function exists to avoid.  Callers restore the
    conf after their run for the same reason.
    """
    floor = max(int(spark.sparkContext.defaultParallelism), 8)
    total = _local_bytes(df.inputFiles()) or 0
    if total <= 0:  # in-memory / non-file source: Catalyst's own size estimate
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if 0 < est < (1 << 50):  # ignore the unknown-size sentinel
            total = est // 4  # plan stats are uncompressed-row sizes
    if total <= 0:
        return floor
    width = int(total * expansion // (target_mb * 1024 * 1024)) + 1
    return max(floor, min(cap, width))


def widen_small_input(df, target: int | None = None, max_bytes_per_core: int = 8 * 1024 * 1024):
    """Round-robin repartition a TINY scan up to the session's core count.

    Guide §2.5 "input skew": a small table written as one parquet file
    scans as ONE task, so compute-heavy narrow chains over it (shingle
    explode + per-shingle hashing, simhash bit sums) serialize on a
    single core while 31 sit idle — measured 2x the whole query wall on
    dedup_minhash at sf0.1.  This widens exactly that case and is a
    deliberate NO-OP whenever the scan already parallelizes:

    - input bytes unknown (non-file source) or > target * max_bytes_per_core:
      a real corpus at scale gets its parallelism from scan splits, and
      round-robin repartitioning it would shuffle the full payload —
      the anti-pattern guide §8 warns about;
    - the scan already has >= target input files.

    Safe for results: round-robin repartition only changes row placement,
    and every caller aggregates with order-insensitive functions.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= target:
        return df
    total = _local_bytes(files)
    if total is None or total > target * max_bytes_per_core:
        return df  # remote store (scan splits decide) or already big
    return df.repartition(target)


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (DDL ``schema``, e.g.
    ``"src string, dst string"``; ``None`` cells are NULL) that never
    touches a Python worker.

    ``spark.createDataFrame`` of a Python list builds a Python RDD, so
    every job that reads it starts the pyspark daemon and its workers
    just to hand back constants.  Here the rows travel as ONE JSON string
    in a one-row JVM ``LocalRelation``, parsed by ``from_json`` and
    expanded by ``inline``.  The plan, and its string form in the SQL
    listener and the event log, stay the same size at any row count: the
    relation's data is not part of the plan text, where a string literal
    would be (10k pairs made a 300 KB plan string), and a literal per
    cell cost 1-3 ms of plan building per cell.  The text never enters a
    SQL string."""
    struct = DataType.fromDDL(schema)
    payload = json.dumps([dict(zip(struct.names, row)) for row in rows])
    jvm = spark._jvm
    text = spark._jsparkSession.createDataset(
        jvm.java.util.Collections.singletonList(payload),
        jvm.org.apache.spark.sql.Encoders.STRING(),
    )
    return DataFrame(text.toDF(), spark).select(
        F.inline(F.from_json("value", ArrayType(struct)))
    )
