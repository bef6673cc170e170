"""The SPARQL read side: query constants, expected row counts, an HTTP
client for ``SparqlEndpoint``, the closed-loop client mix and the
per-class read probe used by traced runs."""

from __future__ import annotations

import json
import threading
import time
import urllib.request

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgbench import gen, stats

RESULT_LIMIT = 10000  # endpoint.results_json's default row cap
PROBE_ROUNDS = 1
JSON_RESULTS = "application/sparql-results+json"


def store_constants(spo: DataFrame) -> dict[str, list[str]]:
    """Sorted constant lists the query classes draw from."""
    pred = F.col("pred")

    def distinct(df: DataFrame, c: str) -> list[str]:
        return sorted(r[0] for r in df.select(c).distinct().collect())

    return {
        "modules": distinct(spo.where(pred == gen.IMPORTS), "obj"),
        "files": distinct(spo.where(pred == gen.IN_REPO), "subj"),
        "graphs": distinct(spo.where(F.col("ctx").isNotNull()), "ctx"),
        "canonical": distinct(spo.where(pred == gen.CANONICAL), "obj"),
    }


def row_counts(spo: DataFrame, constants: dict[str, list[str]]) -> dict[str, dict[str, int]]:
    """class -> constant -> rows its query returns, for every constant of
    ``constants`` (``store_constants``) the class draws from, from direct
    DataFrame filters and joins (one job per class); a constant with no
    rows is left out."""
    pred = F.col("pred")
    imports = spo.where(pred == gen.IMPORTS)

    def counts(df: DataFrame, key: str) -> dict[str, int]:
        return {r[0]: r[1] for r in df.groupBy(key).count().collect()}

    by_cls = {
        "point_po": counts(imports, "obj"),
        "point_s": counts(spo, "subj"),
        "join": counts(
            imports.select("subj", F.col("obj").alias("c"))
            .join(spo.where(pred == gen.DEFINES_CLASS).select("subj"), "subj")
            .join(spo.where(pred == gen.IN_REPO).select("subj"), "subj"),
            "c",
        ),
        "agg": {r[0]: min(10, r[1]) for r in imports.groupBy("ctx").agg(F.countDistinct("obj")).collect()},
        "path": counts(imports.select("subj", F.col("obj").alias("c")).join(imports.select("subj"), "subj"), "c"),
        # zero-or-more path: the node itself plus every entity mapped to it
        "closure": {c: n + 1 for c, n in counts(spo.where(pred == gen.CANONICAL), "obj").items()},
    }
    return {
        cls: {c: by_cls[cls][c] for c in constants[gen.CONSTANT_KIND[cls]] if c in by_cls[cls]}
        for cls in gen.CLASSES
    }


def expected_rows(counts: dict[str, dict[str, int]], pool: list[tuple[str, str, str]]) -> list[int]:
    """Row count each pool query must return, capped like the endpoint."""
    return [min(RESULT_LIMIT, counts[cls].get(c, 1 if cls == "closure" else 0)) for cls, c, _ in pool]


def http_query(port: int, query: str) -> tuple[float, int]:
    """POST one query; returns (latency ms, result rows)."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/sparql",
        data=query.encode(),
        headers={"Content-Type": "application/sparql-query", "Accept": JSON_RESULTS},
    )
    t0 = time.perf_counter()
    with urllib.request.urlopen(req, timeout=120) as resp:
        body = json.load(resp)
    return (time.perf_counter() - t0) * 1000, len(body["results"]["bindings"])


def closed_loop(port, pool, expected, order, clients: int = 2) -> dict:
    """``clients`` threads send the queries of ``order`` (pool indexes),
    each client its next one only after the previous reply.  Returns
    per-class latency samples, attempted/failed counts and the wall."""
    lock = threading.Lock()
    todo = iter(order)
    lat: dict[str, list[float]] = {cls: [] for cls in gen.CLASSES}
    errors: list[str] = []
    t_start = time.perf_counter()

    def client() -> None:
        while True:
            with lock:
                i = next(todo, None)
            if i is None:
                return
            cls, _, q = pool[i]
            try:
                ms, rows = http_query(port, q)
            except Exception as exc:  # a failed request counts, never aborts the run
                err = f"{cls}: {exc!r}"[:300]
            else:
                err = None if rows == expected[i] else f"{cls}: {rows} rows, expected {expected[i]}"
            with lock:
                if err is None:
                    lat[cls].append(ms)
                else:
                    errors.append(err)

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
        if t.is_alive():
            raise RuntimeError("read client did not finish")
    return {
        "lat": lat, "elapsed": time.perf_counter() - t_start,
        "attempted": len(order), "failed": len(errors), "errors": errors,
    }


def loop_metrics(res: dict) -> dict[str, tuple[float | None, int]]:
    """The read workload's end-to-end metrics as (value, samples); a
    median of no samples is None."""
    every = [x for xs in res["lat"].values() for x in xs]
    point = [x for c in gen.POINT_CLASSES for x in res["lat"][c]]
    analytic = [x for c in gen.CLASSES if c not in gen.POINT_CLASSES for x in res["lat"][c]]

    def med(xs: list[float]) -> float | None:
        return stats.median(xs) if xs else None

    return {
        "read_qps": (len(every) / res["elapsed"], len(every)),
        "read_p50_ms": (med(every), len(every)),
        "read_p90_ms": (stats.tail_percentile(every, 90), len(every)),
        "point_p50_ms": (med(point), len(point)),
        "analytic_p50_ms": (med(analytic), len(analytic)),
    }


def read_probe(tracer, spo, port, pool, expected, rounds: int = PROBE_ROUNDS):
    """Per query class, one untimed direct run (the first plan of a query
    shape is cold), then ``rounds`` rounds of: the query run directly, with
    its plan (inside ``sparql_query``) and execution (inside
    ``results_json``) timed under the class's job group; except for
    closure, the same query over HTTP alone and from two concurrent
    clients.  Direct and HTTP alternate which goes first, because latency
    drifts run by run.  The endpoint overhead and contention are medians
    of the per-round differences over those classes and rounds; closure's
    ~2 s latency would bury a difference of a few ms in its noise.

    Returns (metrics, attempted, failed).  ``metrics(groups_of)`` builds
    the per-layer metrics once the event log is complete; ``groups_of``
    sums the event-log stats of the named job groups."""
    from halyard_spark.endpoint import results_json
    from halyard_spark.query.sparql import sparql_query

    heads = gen.class_heads(pool)
    attempted = failed = 0
    direct: dict[str, list[tuple[float, float]]] = {pool[i][0]: [] for i in heads}
    overhead: list[float] = []
    contention: list[float] = []

    def http(order: list[int]) -> list[float]:
        nonlocal attempted, failed
        loop = closed_loop(port, pool, expected, order, len(order))
        attempted += loop["attempted"]
        failed += loop["failed"]
        return [x for xs in loop["lat"].values() for x in xs]

    for i in heads:
        with tracer.span("sparql.warm"):
            results_json(sparql_query(spo, pool[i][2]))
    for r in range(rounds):
        for k, i in enumerate(heads):
            cls, _, q = pool[i]
            over_http = cls != "closure"
            if over_http and (r + k) % 2:
                solo = http([i])
            with tracer.span(f"sparql.{cls}"):
                t0 = time.perf_counter()
                df = sparql_query(spo, q)
                t1 = time.perf_counter()
                rows = len(results_json(df)["results"]["bindings"])
                t2 = time.perf_counter()
            attempted += 1
            failed += rows != expected[i]
            direct[cls].append(((t1 - t0) * 1000, (t2 - t1) * 1000))
            if not over_http:
                continue
            if not (r + k) % 2:
                solo = http([i])
            duo = http([i, i])
            if solo:
                overhead.append(solo[0] - (t2 - t0) * 1000)
                if duo:
                    contention.append(stats.median(duo) - solo[0])
    result_rows = {pool[i][0]: expected[i] for i in heads}

    def metrics(groups_of) -> dict[str, float | None]:
        out = {}
        for cls, runs in direct.items():
            g, n = groups_of([f"sparql.{cls}"]), len(runs)
            out[f"sparql.{cls}.plan_ms"] = stats.median([p for p, _ in runs])
            out[f"sparql.{cls}.exec_ms"] = stats.median([e for _, e in runs])
            out[f"sparql.{cls}.rows_examined_per_result"] = g.input_records / n / max(1, result_rows[cls])
            out[f"sparql.{cls}.jobs_per_query"] = g.jobs / n
            out[f"sparql.{cls}.tasks_per_query"] = g.tasks / n
        closure = direct["closure"]
        out["path.wall_ms"] = stats.median([p + e for p, e in closure])
        out["path.jobs"] = groups_of(["sparql.closure"]).jobs / len(closure)
        # None (and correct=false) if every HTTP request failed
        out["endpoint.overhead_ms"] = stats.median(overhead) if overhead else None
        out["endpoint.contention_ms"] = stats.median(contention) if contention else None
        return out

    return metrics, attempted, failed
