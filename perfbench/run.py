"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The lines before
it give the run context and every metric in readable form. Everything the
run writes stays under ``.perfbench/`` in the checkout; a traced run also
leaves its spans there as ``trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

T0 = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "govgis_nov2023_slim_spatial_server_spark"
WORKLOADS = ("search", "batch")

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms"}  # name -> unit
# printed in the report lines but not gated (see README.md)
REPORTED = {"op_p90_ms": "ms", "fail_ratio": "ratio", "pass_s": "s", "pass_s.pipeline": "s",
            "pass_s.analytics": "s", "write_amp": "ratio", "peak_rss_mb": "MB"}
# per-layer metrics every workload reports (0 where the layer is not used)
LAYERS = {
    "bench.trace_overhead_ms": "ms",
    "api.search_ms": "ms", "api.point_p50_ms": "ms", "api.nopoint_p50_ms": "ms",
    "api.hydrate_ms": "ms", "fixtures.embed_ms": "ms", "plans.build_ms": "ms",
    "session.collect_ms": "ms", "session.action_s": "s",
    "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
    "session.idle_core_s": "s", "session.executor_run_s": "s",
    "session.executor_cpu_s": "s", "session.gc_s": "s",
    "session.shuffle_write_bytes": "bytes", "session.shuffle_read_bytes": "bytes",
    "session.spill_bytes": "bytes", "session.count_mismatches": "count",
    "functions.python_rows": "count", "functions.python_bytes": "bytes",
    "functions.python_s": "s",
    "sources.scan_rows_per_result": "count", "sources.files_read": "count",
    "sources.ingest_s": "s", "sources.write_s": "s", "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "catalog.build_s": "s", "catalog.build_jobs": "count",
}


def p50(ops: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency.
    Kinds are requests with and without a point on ``search`` (the two
    cost classes, ~3:1 apart; the median of the mix would sit in the
    tail of the cheaper one) and queries on ``batch`` (every query weighs
    the same, whatever its length)."""
    medians = [statistics.median(v) for v in ops.values() if v]
    return statistics.geometric_mean(medians) if medians else 0.0


def halves(ops: dict[str, list[float]]) -> list[float]:
    """``p50`` of the first and of the second half of each kind's
    latencies, in run order, in ms: how far latency still moves in the loop."""
    split = [{k: v[:len(v) // 2] for k, v in ops.items() if len(v) > 1},
             {k: v[len(v) // 2:] for k, v in ops.items() if len(v) > 1}]
    return [1e3 * p50(h) for h in split]


def end_to_end(run) -> dict:
    """An operation is one request on ``search`` and one query execution
    on ``batch``. Every metric reads 0 when no operation succeeded."""
    lat = [x for v in run.ops.values() for x in v]
    return {
        # the warm-up runs once, after the last set-up
        "setup_s": statistics.median(run.setups) + run.warmup_s,
        # one client in a closed loop: throughput is operations per busy second
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
        "op_p50_ms": 1e3 * p50(run.ops),
        "op_p90_ms": 1e3 * statistics.quantiles(lat, n=10, method="inclusive")[8]
        if len(lat) > 1 else 0.0,
    }


def per_layer(run, names) -> dict:
    layers = {k: v for k, v in run.layers.items() if not isinstance(v, (dict, list))}
    for k, v in run.layers.get("sources", {}).items():
        if k != "raw_bytes":
            layers[f"sources.{k}"] = v
    if run.traced_ops and run.ops:  # per operation, as op_p50_ms
        layers["bench.trace_overhead_ms"] = 1e3 * (p50(run.traced_ops) - p50(run.ops))
    return {k: float(layers.get(k, 0.0)) for k in names}


def _context(run, args, spark_version: str) -> dict:
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": bool(args.trace), "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark_version, "python": platform.python_version(),
        "io": "every input fits in RAM; the page cache, not the disk, serves reads",
        **run.context,
        "op_p50_halves_ms": halves(run.ops),
        "wall_s": time.perf_counter() - T0,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE}/ not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # every JVM (launcher and driver): temp files in the run's directory,
    # no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    sys.path.insert(0, ROOT)

    import pyspark

    from perfbench import tracing, workloads

    session = workloads.Session()
    try:
        if args.workload == "search":
            run = workloads.run_search(session, work, args.seed, args.seconds, bool(args.trace))
        else:
            run = workloads.run_batch(session, work, args.seed, args.seconds, bool(args.trace))
        rss = tracing.peak_rss_mb()
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)

    context = _context(run, args, pyspark.__version__)
    print("# context " + json.dumps(context))
    report = end_to_end(run)
    report["peak_rss_mb"] = rss
    report["fail_ratio"] = run.failed / max(1, run.attempted)
    for k, v in run.context.get("pass_s", {}).items():
        report["pass_s" if k == "all" else f"pass_s.{k}"] = v
    if "sources" in run.layers:
        src = run.layers["sources"]
        report["write_amp"] = src["bytes_written"] / src["raw_bytes"]
    for k, v in report.items():
        print(f"# {k} = {v:.6g} {END_TO_END.get(k) or REPORTED[k]}")
    for f in run.failures:
        print(f"# FAILED {f}")

    if args.trace:
        os.makedirs(base, exist_ok=True)
        with open(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"context": context, "spans": run.layers.get("spans", [])}, f)
        units = {**LAYERS, **workloads.per_query_metrics()}
        values = per_layer(run, units)
        for k, v in values.items():
            print(f"# {k} = {v:.6g} {units[k]}")
    else:
        units = END_TO_END
        values = {k: report[k] for k in END_TO_END}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
