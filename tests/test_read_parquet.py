"""`schemas.load_table` infers a parquet schema once per file content:
a repeat read runs no job, and a rewrite or a type-mapping conf change
is never served a stale schema."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from govgis_nov2023_slim_spatial_server_spark.schemas import (
    load_table,
    read_parquet,
    register_temp_views,
)

_NANOS = "spark.sql.legacy.parquet.nanosAsLong"
_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _jobs(spark, label, fn):
    """Run ``fn`` under its own job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed by it
    return out, len(sc.statusTracker().getJobIdsForGroup(label))


@pytest.fixture
def restore_conf(spark):
    saved = {k: spark.conf.get(k) for k in (_NANOS, _NTZ)}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_second_load_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), tmp_path / "t.parquet")
    first, n_first = _jobs(spark, "memo-first", lambda: load_table(spark, str(tmp_path), "t"))
    again, n_again = _jobs(spark, "memo-again", lambda: load_table(spark, str(tmp_path), "t"))
    assert n_first >= 1  # the inference job the memo saves
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewrite_in_place_returns_the_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2], "old": [1.5, 2.5]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k", "old"]
    pq.write_table(pa.table({"k": [1, 2], "new": ["x", "y"]}), path)
    back = load_table(spark, str(tmp_path), "t")
    assert back.columns == ["k", "new"]
    assert sorted(back.collect()) == [(1, "x"), (2, "y")]


def test_type_mapping_confs_are_part_of_the_key(spark, tmp_path, restore_conf):
    """The same file read under another type mapping is inferred again:
    toggling nanosAsLong changes the type of a nanosecond `events.ts`."""
    pq.write_table(
        pa.table({
            "ts": pa.array([1_000_000_123], pa.timestamp("ns")),
            "us": pa.array([1_000_000], pa.timestamp("us")),
        }),
        tmp_path / "events.parquet",
    )
    path = str(tmp_path / "events.parquet")
    spark.conf.set(_NANOS, "true")
    spark.conf.set(_NTZ, "true")
    assert dict(read_parquet(spark, path).dtypes) == {"ts": "bigint", "us": "timestamp_ntz"}
    spark.conf.set(_NTZ, "false")
    assert dict(read_parquet(spark, path).dtypes)["us"] == "timestamp"
    # without nanosAsLong Spark cannot map TIMESTAMP(NANOS) at all
    spark.conf.set(_NANOS, "false")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        read_parquet(spark, path)
    # load_table pins nanosAsLong for `events`, then normalizes the long
    ev = load_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_unreadable_paths_keep_sparks_errors(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "absent")
    (tmp_path / "bad.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        load_table(spark, str(tmp_path), "bad").collect()
    register_temp_views(spark, f"file:{tmp_path}")  # URI: absent tables skipped
