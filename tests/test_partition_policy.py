"""The one partition-width policy: `session.spread` and `session.checkpoint`.

- each helper's width decision and its job count, read from a
  `statusTracker` job group;
- results of the entries that use the helpers do not depend on the shuffle
  width or on AQE: DuckDB oracle parity at sf0.001 under
  `spark.sql.shuffle.partitions` in {1, 64} x AQE on/off;
- a source guard: no package module reads a width from `.rdd` or uses one
  of the retired levers, so any width change goes through `session.py`.
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES, QUERIES
from govgis_nov2023_slim_spatial_server_spark.session import (
    GEOMETRY_STORE,
    ITERATION,
    checkpoint,
    spread,
)
from tools.oracle_check import TABLES, rows_to_multiset

PACKAGE = Path(__file__).resolve().parents[1] / "govgis_nov2023_slim_spatial_server_spark"


def _jobs(spark, label, fn):
    """Run ``fn`` under its own job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(label))


@pytest.fixture(scope="module")
def one_row_group(spark, tmp_path_factory):
    """A single-file, single-row-group parquet scan: ONE partition."""
    path = tmp_path_factory.mktemp("one_rg") / "t.parquet"
    pd.DataFrame(
        {"id": range(5000), "txt": [f"row {i:05d} padding" for i in range(5000)]}
    ).to_parquet(path, row_group_size=5000)
    df = spark.read.parquet(str(path))
    assert df.rdd.getNumPartitions() == 1
    return df


def test_spread_widens_a_one_row_group_scan(spark, one_row_group):
    out = spread(one_row_group)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 5000


def test_spread_leaves_a_frame_that_fills_the_cores(spark, one_row_group):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")  # threshold 4 KB at local[4], below the file
    try:
        assert spread(one_row_group) is one_row_group
    finally:
        spark.conf.set(key, old)


def test_spread_runs_no_job(spark, one_row_group):
    _, n_jobs = _jobs(spark, "spread-no-job", lambda: spread(one_row_group))
    assert n_jobs == 0


def test_checkpoint_runs_exactly_one_job(spark):
    df = spark.range(0, 1000, numPartitions=8).withColumn("x", F.col("id") * 2)
    _, n_jobs = _jobs(spark, "checkpoint-one-job", lambda: checkpoint(df))
    assert n_jobs == 1


def test_checkpoint_result_does_not_recompute_its_input(spark):
    calls = spark.sparkContext.accumulator(0)

    def tag(x):
        calls.add(1)
        return x

    df = spark.range(0, 500, numPartitions=4).select(
        F.udf(tag, LongType())("id").alias("id")
    )
    cp = checkpoint(df)
    assert calls.value == 500
    assert cp.where(F.col("id") % 2 == 0).count() == 250
    assert sorted(r.id for r in cp.collect()) == list(range(500))
    assert calls.value == 500


@pytest.mark.parametrize(
    "rows, cost, width",
    [
        (100, ITERATION, 1),  # floor 1
        (200_000, ITERATION, 4),  # ceil(200000 / 65536)
        (100, GEOMETRY_STORE, 4),  # floor 4
        (5_000, GEOMETRY_STORE, 5),  # ceil(5000 / 1024)
        (20_000, GEOMETRY_STORE, 8),  # 20 wanted; coalesce never widens
    ],
)
def test_checkpoint_width_follows_rows_and_floor(spark, rows, cost, width):
    cp = checkpoint(spark.range(0, rows, numPartitions=8), cost)
    assert cp.rdd.getNumPartitions() == width
    assert cp.count() == rows


def test_bfs_levels_is_one_lazy_plan(spark, sf_dir):
    """graph_bfs_levels runs no job while it is built (once the lineitem
    schema is memoized), and its count runs at most 8: the order exchange,
    each round's part aggregate, the two label broadcasts and the count."""
    QUERIES["graph_bfs_levels"](spark, sf_dir)
    df, build_jobs = _jobs(
        spark, "bfs-build", lambda: QUERIES["graph_bfs_levels"](spark, sf_dir)
    )
    _, count_jobs = _jobs(spark, "bfs-count", df.count)
    assert build_jobs == 0
    assert count_jobs <= 8


# Every entry whose width this policy decides (CC edges, signature and
# gram checkpoints, spread inputs, both store kinds), the BFS entry's
# keyed order exchange, and the rows-only MinHash entry that shares the
# signature checkpoint.
WIDTH_ENTRIES = [
    "graph_bfs_levels",
    "minhash_neardup_oracle",
    "dedup_components",
    "dedup_keep_best_doc",
    "substring_dup_chains",
    "pq_adc_topk",
    "spatial_point_filter",
    "spatial_union_snap_rings",
    "minhash_lsh_neardup",
]
WIDTH_CONFIGS = [(p, aqe) for p in (1, 64) for aqe in ("true", "false")]


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def rows_only_counts(spark, sf_dir):
    """Row count of each rows-only entry under the session's own config."""
    return {
        n: QUERIES[n](spark, sf_dir).count()
        for n in WIDTH_ENTRIES
        if n not in ORACLES
    }


@pytest.mark.parametrize("parts, aqe", WIDTH_CONFIGS)
@pytest.mark.parametrize("name", WIDTH_ENTRIES)
def test_result_does_not_depend_on_width(
    spark, sf_dir, ddb, rows_only_counts, name, parts, aqe
):
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    old = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], str(parts))
    spark.conf.set(keys[1], aqe)
    try:
        sdf = QUERIES[name](spark, sf_dir)
        cols, rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)
    if name not in ORACLES:
        assert len(rows) == rows_only_counts[name]
        return
    res = ddb.execute(ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(cols) == sorted(ocols)
    assert len(rows) == len(orows)
    assert rows_to_multiset(cols, rows) == rows_to_multiset(ocols, orows)


def test_no_width_lever_outside_session():
    banned = re.compile(
        r"getNumPartitions|ensure_min_partitions|coalesce_materialized|store_width"
    )
    hits = [
        f"{path.relative_to(PACKAGE)}:{i}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "width must be decided in session.py:\n" + "\n".join(hits)
