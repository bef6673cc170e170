"""Benchmark harness: the two end-to-end numbers of BASELINE.json.

    python bench.py

Prints ONE JSON line with the keys ``metric, unit, sf, value, queries,
pipeline, scaling`` and rewrites BENCH/BASELINE.md:

- ``queries``: seconds per headline query at $SPARK_GRAFT_SF_DIR (default
  ``SF_DIR``, the sf0.1 test data) on ``local[session.DEFAULT_CPUS]``;
  ``value`` is their sum.
- ``scaling``: ``run_pipeline`` pinned with taskset to 1 core, then to 4
  cores, on one fixed corpus (``generate_src(spark, 20000,
  content_scale=10)``, 1,220,633 quads); ``efficiency = (T4/T1)/4``, the
  N->4N proxy a 4-core host can run.
- ``pipeline``: the 4-core leg (triples/sec).

Each part runs in its own subprocess of this script (``--queries-only``,
``--pipeline CPUS OUT``), one after the other: a JVM cannot change its
``local[N]`` master, and two driver heaps on one host starve each other.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from halyard_spark.session import DEFAULT_CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASELINE_MD = os.path.join(REPO, "BENCH", "BASELINE.md")
LOW, HIGH = 1, 4  # pinned cores of the two scaling legs
N_FILES, CONTENT_SCALE = 20000, 10

HEADLINE = [
    "q1_pricing_summary",
    "bgp_join_region",
    "order_limit_topk",
    "kg_triples",
    "kg_bgp",
    "path_closure",
    "cc_components",
    "dedup_minhash",
    "simsearch_topk",
    "text_quality",
    "events_window_agg",
    "window_topk_group",
]


def headline_queries() -> dict[str, float]:
    import __spark_entry__ as entrymod
    from halyard_spark.session import get_spark

    spark = get_spark(app_name="bench_queries")
    qs = entrymod.queries()
    # warm python workers + parquet footers once, outside the timed region
    qs["q1_pricing_summary"](spark, SF_DIR).count()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        qs[name](spark, SF_DIR).count()
        timings[name] = round(time.perf_counter() - t0, 3)
    spark.stop()
    return timings


def pipeline_leg(cpus: int, out: str) -> dict:
    """One ``run_pipeline`` at ``local[cpus]`` over the fixed corpus.  The
    timer starts after the session and the input parquet exist: JVM start
    is not throughput (the cluster analog is a long-running app)."""
    from halyard_spark import corpus
    from halyard_spark.pipeline import extract, run
    from halyard_spark.session import get_spark

    spark = get_spark(cpus=cpus, app_name=f"bench_leg_{cpus}")
    corpus.generate_src(spark, N_FILES, content_scale=CONTENT_SCALE).write.parquet(f"{out}/src")
    src = spark.read.parquet(f"{out}/src")
    # fork the python worker pool outside the timed region: a long-running
    # app has paid it already
    extract.extract_mentions(src.limit(4 * cpus)).count()
    t0 = time.perf_counter()
    report = run.run_pipeline(spark, src, f"{out}/kg", resume=False)
    wall = time.perf_counter() - t0
    spark.stop()
    triples = report["_total"]["triples"]
    return {
        "cpus": cpus,
        "n_files": N_FILES,
        "wall_sec": round(wall, 3),
        "triples": triples,
        "triples_per_sec": round(triples / wall, 1),
    }


def _leg(args: list[str], cpus: int | None = None) -> dict:
    """Run this script with ``args`` in a subprocess, pinned to the first
    ``cpus`` cores this process may use when given, and return the JSON
    line it prints last."""
    cmd = [sys.executable, os.path.abspath(__file__), *args]
    if cpus:
        cores = sorted(os.sched_getaffinity(0))[:cpus]
        if len(cores) < cpus:
            raise RuntimeError(f"a {cpus}-core leg needs {cpus} cores, this process has {len(cores)}")
        cmd = ["taskset", "-c", ",".join(map(str, cores)), *cmd]
    res = subprocess.run(cmd, capture_output=True, text=True)
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
    if res.returncode != 0 or not lines:
        raise RuntimeError(f"bench.py {' '.join(args)} failed (rc={res.returncode}): {res.stderr[-2000:]}")
    return json.loads(lines[-1])


def _sf_of(sf_dir: str) -> float | None:
    """Scale factor from the dir name; None for a custom dir."""
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return None


def write_baseline_md(result: dict) -> None:
    scal = result["scaling"]
    lines = [
        "# BENCH/BASELINE — the latest `python bench.py` run",
        "",
        f"Measured {time.strftime('%Y-%m-%d')} on the host that ran it "
        f"({len(os.sched_getaffinity(0))} cores).",
        "",
        f"## KG-construct pipeline (`generate_src(spark, {N_FILES}, content_scale={CONTENT_SCALE})`)",
        "",
        "| leg | pinned cores | wall_sec | triples | triples/sec |",
        "|---|---|---|---|---|",
    ]
    for leg in ("low", "high"):
        p = scal[leg]
        lines.append(f"| scaling.{leg} | {p['cpus']} | {p['wall_sec']} | {p['triples']} | {p['triples_per_sec']} |")
    lines += [
        "",
        f"`pipeline` is the {HIGH}-core leg. Scaling efficiency "
        f"(T{HIGH}/T{LOW})/{HIGH // LOW} = **{scal['efficiency']}** (target >= 0.8).",
        "",
        f"## Headline queries ({os.path.basename(SF_DIR.rstrip('/'))}, local[{DEFAULT_CPUS}])",
        "",
        "| query | sec |",
        "|---|---|",
        *(f"| {k} | {v} |" for k, v in result["queries"].items()),
        f"| total | {result['value']} |",
        "",
    ]
    os.makedirs(os.path.dirname(BASELINE_MD), exist_ok=True)
    with open(BASELINE_MD, "w") as f:
        f.write("\n".join(lines))


def main() -> None:
    queries = _leg(["--queries-only"])
    with tempfile.TemporaryDirectory(prefix="bench_") as tmp:
        low, high = [_leg(["--pipeline", str(n), f"{tmp}/{n}"], cpus=n) for n in (LOW, HIGH)]
    if low["triples"] != high["triples"]:
        raise RuntimeError(f"scaling legs built different stores: {low['triples']} != {high['triples']} triples")
    result = {
        "metric": "kg_construct_triples_per_sec+headline_queries",
        "unit": "sec",
        "sf": _sf_of(SF_DIR),
        "value": round(sum(queries.values()), 3),
        "queries": queries,
        "pipeline": high,
        "scaling": {
            "low": low,
            "high": high,
            "efficiency": round((high["triples_per_sec"] / low["triples_per_sec"]) / (HIGH // LOW), 3),
        },
    }
    write_baseline_md(result)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    if sys.argv[1:2] == ["--queries-only"]:
        print(json.dumps(headline_queries()), flush=True)
    elif sys.argv[1:2] == ["--pipeline"]:
        print(json.dumps(pipeline_leg(int(sys.argv[2]), sys.argv[3])), flush=True)
    else:
        main()
