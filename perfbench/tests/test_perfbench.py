"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The Spark tests start one local session and take about a minute.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, workloads  # noqa: E402
from perfbench import run as bench_run  # noqa: E402


def _rects(seed: int) -> tuple[list[tuple], list[tuple]]:
    from govgis_nov2023_slim_spatial_server_spark.fixtures.layers import make_layer_rows

    rows = make_layer_rows(200, seed, workloads.SEARCH_DIM)
    return rows, [r[8] for r in rows if r[8] is not None]


def test_same_seed_same_search_fixture_and_requests():
    rows_a, rects_a = _rects(5)
    rows_b, rects_b = _rects(5)
    assert rows_a == rows_b
    assert workloads.make_requests(5, 60, rects_a) == workloads.make_requests(5, 60, rects_b)
    _, rects_c = _rects(6)
    assert workloads.make_requests(5, 60, rects_a) != workloads.make_requests(6, 60, rects_c)


def test_request_mix_is_fixed_per_block():
    _, rects = _rects(1)
    reqs = workloads.make_requests(1, 100, rects)
    assert sum(r.point is not None for r in reqs) == 30
    assert sum(r.type_filter is not None for r in reqs) == 50
    assert sorted({r.skip for r in reqs}) == [0, 5, 20]
    assert all(1 <= r.limit <= 10 for r in reqs)


def test_same_seed_same_tables():
    a, b = datagen.make_tables(0.001, 3), datagen.make_tables(0.001, 3)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not datagen.make_tables(0.001, 4)["lineitem"].equals(a["lineitem"])


def test_op_p50_weighs_every_kind_the_same():
    # medians 2 and 8: a kind's number of executions does not matter
    ops = {"a": [1.0, 3.0, 2.0], "b": [8.0]}
    assert bench_run.p50(ops) == pytest.approx(4.0)
    assert bench_run.end_to_end(workloads.Run(setups=[1.0], ops=ops))["ops_per_s"] == 4 / 14


def test_metrics_when_every_operation_failed():
    run = workloads.Run(setups=[3.0, 1.0, 2.0], warmup_s=0.5, attempted=4, failed=4)
    metrics = bench_run.end_to_end(run)
    assert metrics["setup_s"] == 2.5
    assert metrics["ops_per_s"] == metrics["op_p50_ms"] == 0.0


@pytest.fixture(scope="module")
def batch_env(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    session = workloads.Session()
    spark = session.restart()
    yield spark, work
    session.stop()


def _two_traced_passes(spark, work, queries, sf):
    from govgis_nov2023_slim_spatial_server_spark.catalog import QUERIES
    from govgis_nov2023_slim_spatial_server_spark.catalog.spatial_mm import _spatial_layers

    from perfbench.tracing import SparkProbe, Tracer

    sf_dir = os.path.join(work, f"sf{sf}")
    datagen.write_tables(sf_dir, sf, 1)
    _spatial_layers(spark, sf_dir)  # the workload materializes stores in set-up
    probe, tracer = SparkProbe(spark), Tracer(True)
    for q in queries:  # warm-up, as in the workload
        QUERIES[q](spark, sf_dir).count()
    return [
        {q: workloads._traced_query(probe, tracer, QUERIES[q], spark, sf_dir, q)
         for q in queries}
        for _ in range(2)
    ]


def test_counts_repeat_exactly_across_passes(batch_env):
    spark, work = batch_env
    passes = _two_traced_passes(spark, work, workloads.PIPELINE + workloads.ANALYTICS, 0.01)
    for q in passes[0]:
        for part in ("build", "action"):
            first = {k: passes[0][q][part][k] for k in workloads._REPEATING}
            second = {k: passes[1][q][part][k] for k in workloads._REPEATING}
            assert first == second, (q, part)
    assert workloads.count_mismatches(passes) == 0


def test_analytics_queries_cross_no_python_boundary(batch_env):
    spark, work = batch_env
    passes = _two_traced_passes(spark, work, workloads.ANALYTICS, 0.001)
    for q, stats in passes[0].items():
        assert stats["build"]["python_rows"] + stats["action"]["python_rows"] == 0, q
    # and the probe does see the boundary where there is one
    pipeline = _two_traced_passes(spark, work, ["spatial_point_filter"], 0.001)
    assert pipeline[0]["spatial_point_filter"]["action"]["python_rows"] > 0
