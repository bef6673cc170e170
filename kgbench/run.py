"""Run one benchmark workload and print its metrics.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 6 --trace 0

Run from the repository root; workloads are kg_build, sparql_read and
rdf_ingest.  Prints a table of every metric with its unit and sample
count, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  A traced run has the event log on from the start; after
set-up it runs the workload's warm pass, then times its unit traced and
untraced for half of ``--seconds`` each, then runs every per-layer
probe.  Scratch
data goes to ``.bench_work/`` and is removed; inputs that depend only on
the code are cached in ``.bench_cache/``; a full record (host sizing,
versions, every metric, the trace spans) is written to
``.bench_results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path: str) -> dict:
    with open(os.path.join(ROOT, path)) as f:
        return json.load(f)


def _table(title: str, rows: list[tuple[str, object, str, object]]) -> str:
    lines = [title, f"  {'metric':<42} {'value':>16}  {'unit':<10} n"]
    for name, value, unit, n in rows:
        shown = "n/a" if value is None else f"{value:.6g}" if isinstance(value, float) else str(value)
        lines.append(f"  {name:<42} {shown:>16}  {unit:<10} {'' if n is None else n}")
    return "\n".join(lines)


def _untraced(wl, seconds: float, setup_s: float, session_s: float):
    from kgbench import host

    res = wl.measure(seconds)
    detail = dict(res.metrics)
    detail["setup_s"] = (setup_s, 1)
    detail.update({f"setup.{k}_s": (v, 1) for k, v in {"session": session_s, **wl.phases}.items()})
    detail["peak_rss_mb"] = (host.peak_rss_mb(), 1)
    for slot, metric in wl.PRIMARY.items():
        detail[slot] = res.metrics.get(metric, (None, 0))
    return res, detail, []


def _traced(wl, spark, seconds: float, events: str):
    """The workload's warm pass, so that both timed passes run warm; then
    traced and untraced in the same session; then every
    per-layer probe.  The event log is on throughout: a SparkContext
    cannot switch it on later, and a restart would leave the traced pass
    cold.  The JVM still speeds up pass by pass, so the untraced pass goes
    second: the drift can only overstate trace.overhead_ratio."""
    from kgbench import eventlog, trace

    warm = wl.warm()
    tracer = trace.Tracer(spark.sparkContext)
    res = wl.unit(tracer, seconds / 2)
    plain = wl.unit(trace.NullTracer(), seconds / 2)
    wl.layers(tracer, res)
    for other in (warm, plain):
        res.attempted += other.attempted
        res.failed += other.failed
        res.errors += other.errors
    wl.detach()
    spark.stop()  # finishes the event log
    groups = eventlog.read_dir(events)

    def groups_of(names: list[str]) -> eventlog.GroupStats:
        total = eventlog.GroupStats()
        for name in names:
            total.add(groups.get(name, eventlog.GroupStats()))
        return total

    detail = {}
    for build in res.layer_metrics:
        detail.update({k: (v, None) for k, v in build(groups_of).items()})
    traced_v, plain_v = (r.metrics.get(wl.UNIT, (None,))[0] for r in (res, plain))
    if traced_v is not None and plain_v:
        detail["trace.overhead_ratio"] = (traced_v / plain_v, None)
    return res, detail, tracer.dump()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    from kgbench import host, session
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    contract = _load("BENCHMARK.json")
    catalogue = _load("kgbench/metrics.json")["metrics"]
    units = {m["name"]: m["unit"] for m in catalogue}
    # the listed metrics that the catalogue measures on this workload
    measured = {m["name"] for m in catalogue if args.workload in m["workloads"]}
    listed = contract["per_layer" if args.trace else "end_to_end"]
    wanted = [m["name"] for m in listed if m["name"] in measured]

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # Python workers, get_spark's package zip
    sizing = host.sizing(os.path.join(work, "spark-local"))
    events = os.path.join(work, "eventlog") if args.trace else None
    spark = wl = None
    try:
        t_session = time.perf_counter()
        spark = session.start(sizing, work, event_dir=events)
        session_s = time.perf_counter() - t_session
        sizing.update(host.versions(spark))
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        if args.trace:
            res, detail, spans = _traced(wl, spark, args.seconds, events)
        else:
            res, detail, spans = _untraced(wl, args.seconds, setup_s, session_s)
    finally:
        if wl is not None:
            wl.detach()
        if spark is not None:
            session.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    value = {k: detail.get(k, (None,))[0] for k in wanted}
    correct = res.failed == 0 and None not in value.values()
    header = (
        f"{args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
        f"cpus={sizing['cpus']} driver_memory={sizing['driver_memory']} "
        f"spark.local.dir={sizing['local_dir']} ({sizing['local_dir_fs']}) "
        f"spark={sizing['spark']} java={sizing['java']} python={sizing['python']}"
    )
    rows = [(k, v, units.get(k, "?"), n) for k, (v, n) in sorted(detail.items())]
    rows.append(("failed_share", res.failed / max(1, res.attempted), "ratio", res.attempted))
    print(_table(header, rows))
    for err in res.errors[:20]:
        print(f"  error: {err}")
    out_dir = os.path.join(ROOT, ".bench_results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "host": sizing, "metrics": {k: {"value": v, "samples": n} for k, (v, n) in detail.items()},
            "attempted": res.attempted, "failed": res.failed, "errors": res.errors, "spans": spans,
        }, f, indent=1)
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        # a metric the run could not measure is reported as 0 with correct=false
        "metrics": {k: {"value": 0.0 if v is None else v, "unit": units[k]} for k, v in value.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
