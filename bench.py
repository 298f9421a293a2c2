"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

    python bench.py [--queries a,b,c]      # default: the HEADLINE set

Each query runs in $SPARK_GRAFT_BENCH_REPS (default 3) round-robin passes;
per-query MEDIAN wall-clock seconds are reported and "value" is their sum.
The timed action is the catalog builder call, then count() (FORCE_EVAL
entries: a forced column-hash aggregate); results are not collected.

Wall time drifts with host load. The regression signal that does not is
on the stderr "# detail:" line: per query, the jobs and tasks each pass
ran (one job group per query, read back through sc.statusTracker()),
beside the [min, max] spread and the median build and action seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# CORE_SET = the original r1–r5 headline set, FROZEN as an explicit
# named list (not a positional slice of HEADLINE: an insertion before a
# positional boundary would silently change its membership). Its total is
# published as "value_core_set" for like-for-like comparison as HEADLINE
# grows.
CORE_SET = [
    "flagship_hybrid_search",
    "knn_topk",
    "similarity_join_topk",
    "embedding_near_dup",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "window_rank_orders_per_customer",
    "tumbling_window_1h",
    "session_windows_30m",
    "minhash_lsh_neardup",
    "ngram_jaccard_topk",
    "spatial_point_filter",
    "multimodal_byte_stats",
    "q6_revenue_forecast",
    "vector_centroids_by_label",
    "grouping_sets_status_priority",
]

HEADLINE = CORE_SET + [
    # r6: the heaviest post-r5 entries, so the number covers the
    # operators most likely to regress
    "ann_recall_at_10",
    "kmeans_two_iterations",
    "bigram_lm_cross_entropy",
    "ngram_containment_topk",
    "ngram_containment_capped",
    # r9: the HOF-heaviest entry (PQ encode) and the two-phase skyline
    "pq_adc_topk",
    "pareto_frontier_parts",
    # r10: recursive-skyline driver rounds and the scan-line buffer windows
    "skyline_recursive_parts",
    "spatial_buffer_union_area",
    # r11: dissolve-key ring reconstruction and positional-gram chains
    "spatial_union_rings",
    "substring_dup_chains",
    # r12: the boolean sweep, the grid-snapped union and the NN join
    "spatial_intersection_rings",
    "spatial_union_snap_rings",
    "spatial_nn_join_ring",
    # r13: the k=5 NN join and the exact convex clip
    "spatial_knn_join_ring",
    "spatial_clip_convex_pairs",
    # r14: the non-convex and general x general clips
    "spatial_clip_concave_pairs",
    "spatial_clip_general_pairs",
    # r15: holed clips, geometry output and the BPE encode loop
    "spatial_clip_holed_pairs",
    "spatial_clip_convex_rings",
    "bpe_encode_merges",
    "spatial_clip_holed_boundary",
    # r15 wave 3: driver-loop BFS, interpreted-HOF winnowing, and the
    # double-Python-stage hull
    "graph_bfs_levels",
    "winnowing_fingerprints",
    "spatial_convex_hull_edges",
]

# Entries whose output is a pure projection of the scan: count() lets
# Catalyst prune the whole computation (a deterministic UDF projection
# nobody consumes never runs), so they are timed through a forced hash of
# every output column instead. Every other entry ends in an aggregate,
# join or top-k that consumes its computed values, so count() drives the
# full plan.
FORCE_EVAL = {"winnowing_fingerprints", "spatial_area_centroid"}


def time_query(spark, name: str, sf_dir: str) -> dict:
    """Build catalog entry ``name`` over ``sf_dir`` and run its timed action
    under a job group of its own. Returns ``build_s`` (the builder call,
    eager driver work included), ``action_s``, ``rows``, and the ``jobs``
    and ``tasks`` the two ran; the counters are read after the clock
    stops."""
    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.catalog import QUERIES

    sc = spark.sparkContext
    group = f"bench-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        if name in FORCE_EVAL:
            rows = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("h"),
            ).collect()[0]["n"]
        else:
            rows = df.count()
        t2 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed by it
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    tasks = sum(
        info.numCompletedTasks for s in stages if (info := tracker.getStageInfo(s))
    )
    return {
        "build_s": round(t1 - t0, 3),
        "action_s": round(t2 - t1, 3),
        "rows": rows,
        "jobs": len(jobs),
        "tasks": tasks,
    }


def wall(r: dict) -> float:
    """A ``time_query`` result's timed seconds: build plus action."""
    return r["build_s"] + r["action_s"]


def warm_up(spark, sf_dir: str) -> float:
    """Absorb JVM, codegen and parquet-reader warm-up outside the timings
    by running the flagship once at sf0.001 (beside ``sf_dir``, not the
    measured data), read every table of ``sf_dir`` once (the first read
    of a file infers its parquet schema in a job of its own, which
    ``load_table`` then memoizes), then build the two synthetic spatial
    stores. A store (WKB encode, bbox, checkpoint) is one-time ingest
    work, not query work, so spatial_point_filter and the geo-store
    entries time their queries; returns the stores' build seconds."""
    from govgis_nov2023_slim_spatial_server_spark.catalog import QUERIES
    from govgis_nov2023_slim_spatial_server_spark.catalog.geo_analytics import (
        _geo_store,
    )
    from govgis_nov2023_slim_spatial_server_spark.catalog.spatial_mm import (
        _spatial_layers,
    )
    from govgis_nov2023_slim_spatial_server_spark.schemas import load_table

    spark.range(1).count()
    small = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001")
    if os.path.isdir(small):
        QUERIES["flagship_hybrid_search"](spark, small).count()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            load_table(spark, sf_dir, f.removesuffix(".parquet"))
    t0 = time.perf_counter()
    _spatial_layers(spark, sf_dir)
    _geo_store(spark, sf_dir)
    return round(time.perf_counter() - t0, 3)


def summarize(
    samples: dict[str, list[dict]], store_s: float, sf_dir: str
) -> tuple[str, dict]:
    """The stdout JSON line and the stderr detail for per-query, per-pass
    ``time_query`` results."""

    def med(rs, key):
        return round(statistics.median(key(r) for r in rs), 3)

    timings = {n: med(rs, wall) for n, rs in samples.items()}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    result = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "value_core_set": (
            round(sum(timings[n] for n in CORE_SET), 3)
            if set(CORE_SET) <= set(timings) else None
        ),
        # sum of per-query MIN-of-reps: discards per-pass interference
        "value_best": round(sum(min(map(wall, rs)) for rs in samples.values()), 3),
        "queries": timings,
        "reps": len(next(iter(samples.values()), [])),
        "spatial_store_build_sec": store_s,
        "sf": sf_val,
    }
    # harnesses that parse this line keep only the last ~2000 chars of
    # stdout: it must stay < 1.9 KB, so per-query detail lives on stderr
    line = json.dumps(result)
    if len(line) > 1900:
        result.pop("queries")
        line = json.dumps(result)
    detail = {
        n: {
            "spread": [round(min(map(wall, rs)), 3), round(max(map(wall, rs)), 3)],
            "build_s": med(rs, lambda r: r["build_s"]),
            "action_s": med(rs, lambda r: r["action_s"]),
            "jobs": [r["jobs"] for r in rs],
            "tasks": [r["tasks"] for r in rs],
        }
        for n, rs in samples.items()
    }
    return line, detail


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--queries", default=",".join(HEADLINE),
        help="comma-separated catalog entries to time (default: HEADLINE)",
    )
    names = [n for n in ap.parse_args(argv).queries.split(",") if n]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from govgis_nov2023_slim_spatial_server_spark.catalog import QUERIES
    from govgis_nov2023_slim_spatial_server_spark.session import get_spark

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown catalog entries: {', '.join(unknown)}")
    spark = get_spark(app_name="govgis-bench")
    spark.sparkContext.setLogLevel("ERROR")
    store_s = warm_up(spark, sf_dir)

    # round-robin passes (pass 1 all queries, then pass 2, ...) space the
    # repeats of one query apart, so cache adjacency does not flatter the
    # medians; one sample cannot separate noise from a regression
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    samples: dict[str, list[dict]] = {n: [] for n in names}
    for rep in range(reps):
        for name in names:
            r = time_query(spark, name, sf_dir)
            samples[name].append(r)
            print(
                f"# pass {rep + 1}: {name}: {wall(r):.3f}s "
                f"({r['rows']} rows, {r['jobs']} jobs, {r['tasks']} tasks)",
                file=sys.stderr,
            )
    line, detail = summarize(samples, store_s, sf_dir)
    print("# detail: " + json.dumps(detail), file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
