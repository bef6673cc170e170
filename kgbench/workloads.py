"""The benchmark's workloads.

Each workload has a set-up (inputs and one untimed warm pass) and an
untraced ``measure`` that returns its end-to-end metrics.  A traced run
uses three more parts: ``unit``, the workload's timed operations, run
under a tracer and untraced in the same session so that
trace.overhead_ratio compares like with like; ``warm``, an untimed pass
before them; and ``layers``, the per-layer probes.  Every traced run of kg_build and sparql_read measures
every layer: the stage-by-stage pipeline, the per-class read probe and
the write side (``read_rdf``, loads and updates over a small N-Quads
set).

The pipeline corpus and sparql_read's store depend only on
halyard_spark's code, so they are built once per checkout under
``.bench_cache/`` and reused by later runs (see ``cached``).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from kgbench import gen, host, layers, reads, stats, trace


@dataclass
class Result:
    """metrics: name -> (value, samples); ``layer_metrics`` (traced runs)
    turns event-log job-group stats into per-layer metrics; ``unit_state``
    is what a traced ``unit`` leaves for ``layers``."""

    metrics: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    layer_metrics: list = field(default_factory=list)
    unit_state: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _until(seconds: float):
    """Yield until ``seconds`` have passed, at least once."""
    deadline = time.perf_counter() + seconds
    yield
    while time.perf_counter() < deadline:
        yield


def _medians(samples: dict) -> dict:
    return {k: (stats.median(v), len(v)) for k, v in samples.items()}


def store_digest(spark, store: str) -> tuple[int, int]:
    """(quad count, bit_xor of xxhash64 over the quad terms) of the SPO mirror."""
    row = spark.read.parquet(f"{store}/spo").agg(
        F.count(F.lit(1)), F.expr("bit_xor(xxhash64(ctx, subj, pred, obj))")
    ).collect()[0]
    return int(row[0]), int(row[1])


def store_bytes(store: str, indexes=("spo", "pos", "osp")) -> int:
    """On-disk bytes of the mirrors' data files."""
    total = 0
    for index in indexes:
        for root, _, files in os.walk(f"{store}/{index}"):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files if not f.startswith((".", "_"))
            )
    return total


class ReadSide:
    """Query pool, expected row counts and an HTTP endpoint over one store."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.pool = self.expected = self.order = None
        self.endpoint = None

    def prepare(self, spo) -> None:
        """``spo`` holds the pipeline store (EXPECTED_STORE)."""
        oracle = _read_oracle(spo)
        self.pool = gen.query_pool(self.rng, oracle["constants"])
        self.expected = reads.expected_rows(oracle["counts"], self.pool)
        self.order = gen.schedule(self.rng, self.pool, 15 * gen.BLOCK)

    def serve(self, spo) -> int:
        from halyard_spark.endpoint import SparqlEndpoint

        self.endpoint = SparqlEndpoint(spo).start()
        return self.endpoint.port

    def close(self) -> None:
        if self.endpoint is not None:
            self.endpoint.stop()
            self.endpoint = None


class IngestSide:
    """The write side over seeded N-Quads: a base file with injected
    malformed lines, a 10% delta and update operations.  One cycle
    bulk-loads the base into a fresh store, loads the delta into it, then
    runs each update followed by its read-your-write SELECT."""

    BAD_LINES = 37

    def __init__(self, spark, work: str, seed: int, base_quads: int, updates: int):
        self.spark, self.work = spark, work
        rng = random.Random(seed)
        good, lines = gen.nquads(rng, base_quads, self.BAD_LINES)
        delta_good, delta = gen.nquads(rng, base_quads // 10, 0, start=base_quads)
        self.ops = gen.update_ops(rng, updates, good + delta_good)
        self.n_base, self.n_all, self.n_lines = len(good), len(good) + len(delta_good), len(lines)
        rdf = f"{work}/rdf"
        os.makedirs(rdf, exist_ok=True)
        self.base_path, self.delta_path = f"{rdf}/base.nq", f"{rdf}/delta.nq"
        for path, text in ((self.base_path, lines), (self.delta_path, delta)):
            with open(path, "w") as f:
                f.write("\n".join(text) + "\n")

    def cycle(self, res: Result, samples: dict, tracer) -> None:
        """Load, delta load, then the updates; appends to ``samples``."""
        from halyard_spark.endpoint import results_json
        from halyard_spark.pipeline.rdfload import bulk_load_rdf, load_dataset
        from halyard_spark.query.sparql import sparql_query, sparql_update

        out = f"{self.work}/store"
        shutil.rmtree(out, ignore_errors=True)
        with tracer.span("load"):
            t0 = time.perf_counter()
            man = bulk_load_rdf(self.spark, self.base_path, out, truncate=True)
            t1 = time.perf_counter()
        skipped = man["parse_metrics"]["statements_skipped"]
        res.check(man["triple_count"] == self.n_base and skipped == self.BAD_LINES,
                  f"load: {man['triple_count']} quads, {skipped} skipped")
        with tracer.span("delta"):
            t2 = time.perf_counter()
            man = bulk_load_rdf(self.spark, self.delta_path, out)
            t3 = time.perf_counter()
        res.check(man["triple_count"] == self.n_all, f"delta load: {man['triple_count']} quads")
        store = f"{out}/store"
        nbytes = store_bytes(store)
        samples.setdefault("load_triples_per_s", []).append(self.n_base / (t1 - t0))
        samples.setdefault("delta_load_s", []).append(t3 - t2)
        samples.setdefault("store_bytes_per_triple", []).append(nbytes / self.n_all)
        samples.setdefault("bytes_after_delta", []).append(nbytes)
        spo = load_dataset(self.spark, store)
        for op in self.ops:
            with tracer.span("update"):
                t0 = time.perf_counter()
                spo = sparql_update(spo, op["update"])
                t1 = time.perf_counter()
            with tracer.span("ryw"):
                rows = results_json(sparql_query(spo, op["read"]))["results"]["bindings"]
                t2 = time.perf_counter()
            got = [r["x"]["value"] for r in rows]
            res.check(got == [op["expect"]], f"read-your-write: {got}")
            samples.setdefault("update_p50_ms", []).append((t1 - t0) * 1000)
            samples.setdefault("ryw_read_p50_ms", []).append((t2 - t1) * 1000)

    def run(self, res: Result, seconds: float, tracer) -> dict:
        """Cycles for ``seconds`` (at least one); returns their samples."""
        samples: dict = {}
        for _ in _until(seconds):
            self.cycle(res, samples, tracer)
        return samples

    def layer_metrics(self, tracer, res: Result, samples: dict) -> None:
        """``read_rdf`` of the base file into a no-op sink, then the
        write-side layer metrics of the cycles in ``samples`` (run under
        ``tracer``)."""
        from halyard_spark.sources.metrics import ParseMetrics
        from halyard_spark.sources.rio import read_rdf

        pm = ParseMetrics(self.spark)
        with tracer.span("rio") as sp:
            read_rdf(self.spark, self.base_path, metrics=pm).write.format("noop").mode("overwrite").save()
        skipped = pm.snapshot()["statements_skipped"]
        res.check(skipped == self.BAD_LINES, f"rio: {skipped} skipped lines")
        delta_text = os.path.getsize(self.delta_path)
        cycles = len(samples["bytes_after_delta"])
        changed = sum(op["changed"] for op in self.ops)

        def metrics(groups_of) -> dict[str, float]:
            upd = groups_of(["update"])
            n_upd = len(tracer.by_name("update"))
            return {
                "rio.parse_ms": sp.ms,
                "rio.lines_per_s": self.n_lines / (sp.ms / 1000),
                "rio.skipped_lines": skipped,
                # the delta load rewrites all three mirrors
                "materialize.delta_write_amplification": stats.median(samples["bytes_after_delta"]) / delta_text,
                "update.wall_ms": stats.median([s.ms for s in tracer.by_name("update")]),
                "update.rows_read_per_changed_quad":
                    (upd.input_records + upd.shuffle_read_records) / (changed * cycles),
                "update.shuffle_bytes": upd.shuffle_write_bytes / n_upd,
                "sparql.ryw.wall_ms": stats.median([s.ms for s in tracer.by_name("ryw")]),
            }

        res.layer_metrics.append(metrics)


class Workload:
    name = ""
    # end-to-end contract metric -> this workload's metric that fills it
    PRIMARY: dict[str, str] = {}
    # the metric of ``unit`` that trace.overhead_ratio compares
    UNIT = ""
    # the write-side probe of a traced kg_build or sparql_read run
    INGEST_QUADS = 10_000
    INGEST_UPDATES = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.phases: dict[str, float] = {}  # set-up phase -> seconds

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def detach(self) -> None:
        pass

    def warm(self) -> Result:
        """One untimed pass of ``unit``, before a traced run times it."""
        return self.unit(trace.NullTracer(), 0)

    def _staged(self, tracer, res: Result) -> tuple[str, float, int]:
        """One stage-by-stage pipeline over the set-up corpus, checked like
        ``run_pipeline``'s output; returns its store directory, its wall
        time in ms and the on-disk bytes of its POS+OSP mirrors."""
        out = f"{self.work}/staged"
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        store = layers.staged_pipeline(self.spark, tracer, self.spark.read.parquet(self.src_path), out)
        wall = (time.perf_counter() - t0) * 1000
        got = store_digest(self.spark, store)
        res.check(got == EXPECTED_STORE, f"staged pipeline store {got} != expected {EXPECTED_STORE}")
        return store, wall, store_bytes(store, ("pos", "osp"))

    def _probe(self, tracer, spo, res: Result, side: ReadSide | None = None) -> None:
        """The per-class read probe over ``spo`` (its own query pool and
        endpoint unless ``side`` already serves this store)."""
        own = side is None
        if own:
            side = ReadSide(self.seed)
            side.prepare(spo)
            side.serve(spo)
        try:
            metrics, attempted, failed = reads.read_probe(
                tracer, spo, side.endpoint.port, side.pool, side.expected
            )
        finally:
            if own:
                side.close()
        res.attempted += attempted
        res.failed += failed
        res.layer_metrics.append(metrics)

    def _ingest(self, tracer, res: Result) -> None:
        """The write-side layers: one load/delta/updates cycle over a
        small seeded N-Quads set, then ``read_rdf`` of its base file."""
        side = IngestSide(self.spark, f"{self.work}/ingest", self.seed, self.INGEST_QUADS, self.INGEST_UPDATES)
        side.layer_metrics(tracer, res, side.run(res, 0, tracer))


# ------------------------------------------------------------------ kg_build

# the pipeline corpus of kg_build and sparql_read; generate_src takes no
# seed and is deterministic, so run_pipeline's SPO mirror always has
# EXPECTED_STORE = (quads, store_digest)
CORPUS_FILES = 1000
CONTENT_SCALE = 10
EXPECTED_STORE = (60860, 2991260453281511359)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".bench_cache")


def _code_key() -> str:
    """Hash of halyard_spark's sources and the corpus size, so that a
    cached input is reused only by the code and size that built it."""
    h = hashlib.sha256(f"{CORPUS_FILES}:{CONTENT_SCALE}".encode())
    for path in sorted(glob.glob(os.path.join(ROOT, "halyard_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cached(name: str, build) -> str:
    """Directory ``name`` of the checkout's input cache; the first run to
    need it makes it with ``build(path)``.  Each run would otherwise spend
    about 50 s of set-up regenerating the same corpus and store, on a
    4-core host where a whole run has to stay near one minute."""
    path = os.path.join(CACHE_DIR, _code_key(), name)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        build(tmp)
        try:
            os.rename(tmp, path)  # atomic: a reader sees all of it or none
        except OSError:  # another run finished it first
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def _read_oracle(spo) -> dict:
    """The pipeline store's query constants and per-constant row counts,
    cached like the store they describe."""
    def build(path: str) -> None:
        constants = reads.store_constants(spo)
        os.makedirs(path)
        with open(f"{path}/oracle.json", "w") as f:
            json.dump({"constants": constants, "counts": reads.row_counts(spo, constants)}, f)

    with open(f"{cached('read_oracle', build)}/oracle.json") as f:
        return json.load(f)


def _corpus(spark) -> str:
    """The cached ``generate_src`` corpus as parquet."""
    from halyard_spark import corpus

    return cached("src", lambda path: corpus.generate_src(
        spark, CORPUS_FILES, content_scale=CONTENT_SCALE
    ).write.parquet(path))


class KgBuild(Workload):
    """``run_pipeline(resume=False)`` into a fresh directory, over the
    cached ``generate_src`` corpus.  The timed call is the first pipeline
    in the JVM, as a bulk-load job sees it: set-up has no warm pass, since
    a warm pipeline costs as much as the cold one it would follow and a
    run that has to stay near one minute holds no room for both."""

    name = "kg_build"
    PRIMARY = {"op_p50_ms": "build_wall_ms", "rate_per_s": "build_triples_per_s", "op_cpu_ms": "build_cpu_ms"}
    UNIT = "staged_wall_ms"
    WARM_FILES = 100

    def setup(self) -> None:
        with self.phase("inputs"):
            self.src_path = _corpus(self.spark)

    def _build(self, res: Result) -> tuple[float, float, int, int] | None:
        """One checked run_pipeline: (wall s, CPU s, quads, store bytes)."""
        from halyard_spark.pipeline.run import run_pipeline

        out = f"{self.work}/kg"
        shutil.rmtree(out, ignore_errors=True)
        src = self.spark.read.parquet(self.src_path)
        cpu0, t0 = host.tree_cpu_s(), time.perf_counter()
        report = run_pipeline(self.spark, src, out, resume=False)
        wall, cpu = time.perf_counter() - t0, host.tree_cpu_s() - cpu0
        digest = store_digest(self.spark, f"{out}/store")
        ok = digest == EXPECTED_STORE and report["_total"]["triples"] == digest[0]
        res.check(ok, f"kg_build store {digest} != expected {EXPECTED_STORE}")
        return (wall, cpu, digest[0], store_bytes(f"{out}/store")) if ok else None

    def measure(self, seconds: float) -> Result:
        res = Result()
        samples: dict = {}
        for _ in _until(seconds):
            got = self._build(res)
            if got:
                wall, cpu, quads, nbytes = got
                samples.setdefault("build_wall_ms", []).append(wall * 1000)
                samples.setdefault("build_cpu_ms", []).append(cpu * 1000)
                samples.setdefault("build_triples_per_s", []).append(quads / wall)
                samples.setdefault("store_bytes_per_triple", []).append(nbytes / quads)
        res.metrics = _medians(samples)
        return res

    def warm(self) -> Result:
        """One untimed stage-by-stage pipeline over a WARM_FILES slice of
        the corpus: the JIT and the Python workers warm up on the same
        code paths as over the whole corpus, in less time."""
        src = self.spark.read.parquet(self.src_path).limit(self.WARM_FILES)
        layers.staged_pipeline(self.spark, trace.NullTracer(), src, f"{self.work}/warm")
        shutil.rmtree(f"{self.work}/warm", ignore_errors=True)
        return Result()

    def unit(self, tracer, seconds: float) -> Result:
        """Stage-by-stage pipelines for ``seconds`` (at least one)."""
        res = Result()
        walls, mirror_bytes = [], []
        for _ in _until(seconds):
            store, wall, nbytes = self._staged(tracer, res)
            walls.append(wall)
            mirror_bytes.append(nbytes)
        res.metrics = {"staged_wall_ms": (stats.median(walls), len(walls))}
        res.unit_state = {"store": store, "mirror_bytes": mirror_bytes}
        return res

    def layers(self, tracer, res: Result) -> None:
        # every staged pipeline writes the same checked store to one place
        mirror_bytes = res.unit_state["mirror_bytes"]
        res.layer_metrics.append(lambda groups_of: layers.pipeline_metrics(tracer, groups_of, mirror_bytes))
        self._probe(tracer, self.spark.read.parquet(f"{res.unit_state['store']}/spo"), res)
        self._ingest(tracer, res)


# --------------------------------------------------------------- sparql_read

class SparqlRead(Workload):
    """Two closed-loop HTTP clients against an in-process SparqlEndpoint
    serving the SPO store that ``run_pipeline`` builds over the corpus
    (once per checkout, see ``cached``)."""

    name = "sparql_read"
    CLIENTS = 2
    PRIMARY = {"op_p50_ms": "point_p50_ms", "rate_per_s": "read_qps", "op_cpu_ms": "read_cpu_ms_per_query"}
    UNIT = "point_p50_ms"

    def setup(self) -> None:
        from halyard_spark.pipeline.rdfload import load_dataset
        from halyard_spark.pipeline.run import run_pipeline

        def build(path: str) -> None:
            run_pipeline(self.spark, self.spark.read.parquet(self.src_path), f"{self.work}/kg", resume=False)
            os.rename(f"{self.work}/kg/store", path)

        with self.phase("inputs"):
            self.src_path = _corpus(self.spark)
        with self.phase("store"):
            self.store = cached("store", build)
            if store_digest(self.spark, self.store) != EXPECTED_STORE:
                raise RuntimeError(f"sparql_read store differs from expected {EXPECTED_STORE}")
        self.side = ReadSide(self.seed)
        self.spo = load_dataset(self.spark, self.store)
        self.port = self.side.serve(self.spo)
        with self.phase("queries"):
            self.side.prepare(self.spo)
        with self.phase("warm"):  # one checked query per class
            loop = reads.closed_loop(
                self.port, self.side.pool, self.side.expected, gen.class_heads(self.side.pool), self.CLIENTS
            )
        if loop["failed"]:
            raise RuntimeError(f"sparql_read warm pass failed: {loop['errors']}")

    def detach(self) -> None:
        self.side.close()

    def measure(self, seconds: float) -> Result:
        """Whole schedule blocks, as many as ``seconds`` holds at the
        nominal block time, so every run sends the same class mix."""
        blocks = max(1, round(seconds / gen.BLOCK_SECONDS))
        cpu0 = host.tree_cpu_s()
        loop = reads.closed_loop(
            self.port, self.side.pool, self.side.expected, self.side.order[: blocks * gen.BLOCK], self.CLIENTS
        )
        cpu = host.tree_cpu_s() - cpu0
        metrics = reads.loop_metrics(loop)
        done = metrics["read_qps"][1]
        # clients, endpoint and JVM all run in this process tree
        metrics["read_cpu_ms_per_query"] = (cpu * 1000 / done if done else None, done)
        return Result(metrics=metrics, attempted=loop["attempted"], failed=loop["failed"], errors=loop["errors"])

    def unit(self, tracer, seconds: float) -> Result:
        # the endpoint runs each query on its own handler thread, outside
        # any span: tracing here is the event log alone
        return self.measure(seconds)

    def layers(self, tracer, res: Result) -> None:
        _, _, nbytes = self._staged(tracer, res)
        res.layer_metrics.append(lambda groups_of: layers.pipeline_metrics(tracer, groups_of, [nbytes]))
        self._probe(tracer, self.spo, res, self.side)
        self._ingest(tracer, res)


# ---------------------------------------------------------------- rdf_ingest

class RdfIngest(Workload):
    """Seeded N-Quads with injected malformed lines: ``bulk_load_rdf`` into
    a fresh store, an incremental 10% delta load, then single-client
    ``sparql_update`` calls, each followed by a read-your-write SELECT.
    Its traced run measures the write-side layers only."""

    name = "rdf_ingest"
    BASE_QUADS = 100_000
    UPDATES = 4
    PRIMARY = {"op_p50_ms": "update_p50_ms", "rate_per_s": "load_triples_per_s"}
    UNIT = "update_p50_ms"

    def setup(self) -> None:
        with self.phase("inputs"):
            self.side = IngestSide(self.spark, self.work, self.seed, self.BASE_QUADS, self.UPDATES)
        warm = Result()
        with self.phase("warm"):
            self.side.run(warm, 0, trace.NullTracer())
        if warm.failed:
            raise RuntimeError(f"rdf_ingest warm pass failed: {warm.errors}")

    def measure(self, seconds: float) -> Result:
        res = Result()
        samples = self.side.run(res, seconds, trace.NullTracer())
        samples.pop("bytes_after_delta")
        res.metrics = _medians(samples)
        return res

    def unit(self, tracer, seconds: float) -> Result:
        res = Result()
        samples = self.side.run(res, seconds, tracer)
        res.metrics = {"update_p50_ms": _medians(samples)["update_p50_ms"]}
        res.unit_state = {"samples": samples}
        return res

    def layers(self, tracer, res: Result) -> None:
        self.side.layer_metrics(tracer, res, res.unit_state["samples"])


WORKLOADS = {w.name: w for w in (KgBuild, SparqlRead, RdfIngest)}
