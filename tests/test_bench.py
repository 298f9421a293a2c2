"""`bench.py`: the stdout line fits a 1.9 KB tail, and `time_query`
counts the jobs and tasks of the action it times."""

from __future__ import annotations

import json

import bench
from govgis_nov2023_slim_spatial_server_spark.catalog import QUERIES


def test_result_line_under_tail_budget_for_the_headline():
    assert len(bench.HEADLINE) == 42 == len(set(bench.HEADLINE))
    # three slow passes: every median and the total take their widest form
    fake = {
        n: [{"build_s": 12.345, "action_s": 99.999, "rows": 10**9,
             "jobs": 999, "tasks": 99999}] * 3
        for n in bench.HEADLINE
    }
    line, detail = bench.summarize(fake, 12.345, "/data/sf0.1")
    assert len(line.encode()) < 1900
    out = json.loads(line)
    assert list(out["queries"]) == bench.HEADLINE
    assert out["value"] == round(42 * 112.344, 3)
    assert out["value_core_set"] == round(len(bench.CORE_SET) * 112.344, 3)
    assert out["sf"] == 0.1 and out["reps"] == 3
    for key in ("metric", "unit", "value_best", "spatial_store_build_sec"):
        assert key in out
    assert detail["knn_topk"]["jobs"] == [999] * 3
    assert detail["knn_topk"]["tasks"] == [99999] * 3


def test_time_query_counts_jobs_and_tasks(spark, sf_dir):
    r = bench.time_query(spark, "q1_pricing_summary", sf_dir)
    assert r["jobs"] >= 1 and r["tasks"] >= 1
    assert r["build_s"] >= 0 and r["action_s"] > 0
    assert r["rows"] == len(QUERIES["q1_pricing_summary"](spark, sf_dir).collect())


def test_time_query_forces_a_pure_projection(spark, sf_dir):
    assert "winnowing_fingerprints" in bench.FORCE_EVAL
    r = bench.time_query(spark, "winnowing_fingerprints", sf_dir)
    assert r["jobs"] >= 1 and r["tasks"] >= 1
    assert r["rows"] == len(QUERIES["winnowing_fingerprints"](spark, sf_dir).collect())


def test_warm_up_leaves_pass_one_warm(spark, sf_dir):
    """After `warm_up`, an entry's first timed run does the work of its
    second: the geo store is built and every table's schema is read."""
    bench.warm_up(spark, sf_dir)
    for name in (
        "spatial_buffer_union_area",
        "flagship_hybrid_search",
        "q1_pricing_summary",
        "q3_top_revenue_orders",
        "q5_nation_revenue",
        "tumbling_window_1h",
        "pareto_frontier_parts",
    ):
        first, second = (bench.time_query(spark, name, sf_dir) for _ in range(2))
        assert (first["jobs"], first["tasks"]) == (second["jobs"], second["tasks"]), name
