"""Streaming facade: stream-over-files must agree with the batch operator
on the same finite input (the only way to grade streaming without an
oracle, SURVEY.md §5.2); and the one harness (`staged_stream` as source,
`drain` as sink) leaves nothing behind in the session or on disk."""

import datetime
import re
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.operators.windows import tumbling_window_agg
from govgis_nov2023_slim_spatial_server_spark.streaming.facade import (
    drain,
    staged_stream,
    streaming_dedup,
    streaming_interval_join,
    streaming_session_counts,
    streaming_tumbling_counts,
)

PACKAGE = Path(__file__).resolve().parents[1] / "govgis_nov2023_slim_spatial_server_spark"


@pytest.fixture(scope="module")
def events(spark):
    rows = []
    base = datetime.datetime(2024, 1, 1)
    for i in range(200):
        rows.append(
            (
                i,
                base + datetime.timedelta(minutes=7 * i),
                i % 5,
                "t",
                float(i),
            )
        )
    return spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, user_id: long, event_type: string, value: double"
    )


def _quarters(df):
    """Four frames in event-id (= event-time) order: four micro-batches."""
    return [df.where(F.floor(F.col("event_id") / 50) == i) for i in range(4)]


def test_streaming_tumbling_matches_batch(spark, events):
    with staged_stream(spark, _quarters(events)) as stream:
        agg = streaming_tumbling_counts(stream, "1 hour", watermark="2 hours")
        out = drain(agg, "complete")
    got = {
        r["window_start"]: (r["n_events"], r["sum_value"]) for r in out.collect()
    }
    batch = tumbling_window_agg(events, "1 hour")
    expect = {
        r["window_start"]: (r["n_events"], float(r["sum_value"]))
        for r in batch.collect()
    }
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0]
        assert got[k][1] == pytest.approx(expect[k][1])


def test_streaming_session_counts_runs(spark, events):
    with staged_stream(spark, _quarters(events)) as stream:
        agg = streaming_session_counts(stream, gap="30 minutes", watermark="2 hours")
        rows = drain(agg, "complete").collect()
    assert len(rows) > 0
    assert sum(r["n_events"] for r in rows) == 200


def test_stream_stream_join_matches_batch(spark, events):
    with staged_stream(spark, _quarters(events)) as stream:
        purchases = stream.where(F.col("event_id") % 2 == 0)
        clicks = stream.where(F.col("event_id") % 2 == 1)
        joined = streaming_interval_join(
            purchases, clicks, lookback="40 minutes", watermark="48 hours"
        )
        out = drain(joined, "append")
    got = {(r["left_id"], r["right_id"]) for r in out.collect()}

    lb = events.where(F.col("event_id") % 2 == 0).alias("l")
    rb = events.where(F.col("event_id") % 2 == 1).alias("r")
    expect = {
        (r["left_id"], r["right_id"])
        for r in lb.join(
            rb,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts") - F.expr("INTERVAL 40 minutes"))
            & (F.col("r.ts") <= F.col("l.ts")),
        )
        .select(F.col("l.event_id").alias("left_id"), F.col("r.event_id").alias("right_id"))
        .collect()
    }
    assert got == expect and len(got) > 0


def test_streaming_dedup(spark, events):
    with staged_stream(spark, _quarters(events)) as stream:
        deduped = streaming_dedup(stream, ["user_id"], watermark="48 hours")
        out = drain(deduped, "append")
    rows = out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    # exactly one surviving row per user key
    assert {r["user_id"] for r in rows} == {0, 1, 2, 3, 4}
    assert all(r["n"] == 1 for r in rows)


def _leftovers(spark, tmp):
    """Sink views, active queries and files left in the temp dir ``tmp``."""
    return (
        [t.name for t in spark.catalog.listTables() if t.name.startswith("__stream_")],
        len(spark.streams.active),
        sorted(p.name for p in Path(tmp).iterdir()),
    )


@pytest.fixture
def own_tmp(tmp_path, monkeypatch):
    """Point `tempfile` at an empty dir of the test's own, so the harness's
    checkpoint and staging dirs land there and nothing else does."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def test_drain_result_outlives_staged_stream(spark, events, own_tmp):
    """The sink's rows live on the driver: the drained frame still collects
    after the staged files, the checkpoint dir and the sink view are gone."""
    with staged_stream(spark, _quarters(events)) as stream:
        out = drain(stream.select("event_id"), "append")
    assert _leftovers(spark, own_tmp) == ([], 0, [])
    assert sorted(r["event_id"] for r in out.collect()) == list(range(200))
    assert out.count() == 200


def test_harness_leaves_nothing_behind(spark, events, sf_dir, own_tmp):
    """No `__stream_*` view, active query, checkpoint dir or staging dir
    survives a drain, nor a whole catalog entry that stages and drains."""
    from govgis_nov2023_slim_spatial_server_spark.catalog import QUERIES

    with staged_stream(spark, _quarters(events)) as stream:
        drain(streaming_tumbling_counts(stream, "1 hour"), "complete").collect()
    assert _leftovers(spark, own_tmp) == ([], 0, [])
    QUERIES["stream_late_data_drop"](spark, sf_dir).collect()
    assert _leftovers(spark, own_tmp) == ([], 0, [])


def test_staged_stream_removes_its_dir_on_error(spark, events, own_tmp):
    with pytest.raises(RuntimeError):
        with staged_stream(spark, _quarters(events)):
            assert len(list(own_tmp.iterdir())) == 1
            raise RuntimeError("boom")
    assert _leftovers(spark, own_tmp) == ([], 0, [])


def test_one_sink_and_one_staging_site():
    """The memory sink and the forced file mtimes each live in exactly one
    place, streaming/facade.py: every stream in the package goes through
    `drain` and `staged_stream`."""
    hits = {
        pat: [
            f"{path.relative_to(PACKAGE)}:{i}"
            for path in sorted(PACKAGE.rglob("*.py"))
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if re.search(pat, line)
        ]
        for pat in (r'format\("memory"\)', r"os\.utime\(")
    }
    for pat, where in hits.items():
        assert len(where) == 1 and where[0].startswith("streaming/facade.py:"), (pat, where)


def test_session_window_gap_boundary_merges(spark):
    """An event exactly `gap` after the previous one MERGES into the same
    session — a new session needs a gap STRICTLY greater than the timeout.
    This pins the semantics the stream_session_user_totals oracle encodes
    with the same > comparison as the batch sessionizer."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "t", 1.0),
        (2, base + datetime.timedelta(seconds=1800), 1, "t", 1.0),  # == gap
        (3, base + datetime.timedelta(seconds=1800 + 900), 1, "t", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, user_id: long, event_type: string, value: double"
    )
    from pyspark.sql import functions as F

    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted(r["n"] for r in out) == [3]  # boundary event merges


def test_stream_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    """The restart contract: a second availableNow run over the SAME
    checkpoint must process only files added since the first run — rows
    from the first batch appear exactly once in the sink, never twice.
    This is the file-source offset tracking a production ingest relies on
    to resume after a crash/deploy without reprocessing the corpus."""
    import datetime

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    base = datetime.datetime(2024, 1, 1)

    def write_batch(ids):
        df = spark.createDataFrame(
            [(i, base + datetime.timedelta(minutes=i), i % 3) for i in ids],
            "event_id: long, ts: timestamp, user_id: long",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    def drain():
        schema = spark.read.parquet(src).schema
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch(range(0, 50))
    drain()
    first = spark.read.parquet(sink).count()
    assert first == 50

    write_batch(range(50, 80))
    drain()  # same checkpoint → only the new file is processed
    out = spark.read.parquet(sink)
    assert out.count() == 80  # 50 would mean no resume; 130 would mean replay
    # exactly-once: every id appears once
    assert out.select("event_id").distinct().count() == 80


def test_events_stream_reads_directory_layout(spark, tmp_path):
    """The r8 rehearsal bug: a Spark-written events.parquet is a DIRECTORY
    of part files, and the old filename-glob source silently streamed zero
    rows from it. Both layouts must now produce the batch answer."""
    from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES, QUERIES
    import duckdb

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = str(tmp_path / "corpus")
    import os

    os.makedirs(d)
    # directory layout: multi-part Spark write
    src.repartition(3).write.parquet(f"{d}/events.parquet")
    assert os.path.isdir(f"{d}/events.parquet")
    got = {
        tuple(r)
        for r in QUERIES["stream_tumbling_event_counts"](spark, d).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    want = {tuple(r) for r in con.execute(ORACLES["stream_tumbling_event_counts"]).fetchall()}
    con.close()
    assert got and got == want


def test_stream_full_outer_join_keeps_null_user_rows(spark, tmp_path):
    """ADVICE r13 (low): the post-sink sentinel filter must not swallow
    rows whose COALESCED user_id is NULL — a NULL-user purchase/click
    never equi-joins, so the oracle's FULL JOIN emits it as a null-side
    row and the engine must too. Sentinels stay dropped (they carry
    negative, non-null user_ids)."""
    import duckdb
    import pandas as pd

    from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES, QUERIES

    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = [
        # matched pair for user 1
        (1, base, 1, "purchase"),
        (2, base - pd.Timedelta(minutes=5), 1, "click"),
        # NULL-user purchase AND click: each must emit its own
        # null-side row (they do not join each other)
        (3, base + pd.Timedelta(minutes=10), None, "purchase"),
        (4, base + pd.Timedelta(minutes=20), None, "click"),
        # unmatched real users on both sides
        (5, base + pd.Timedelta(minutes=30), 2, "purchase"),
        (6, base + pd.Timedelta(minutes=40), 3, "click"),
    ]
    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.Series([r[1] for r in rows], dtype="datetime64[us]"),
            "user_id": pd.array([r[2] for r in rows], dtype="Int64"),
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ['{"k": 1}'] * len(rows),
        }
    )
    df.to_parquet(tmp_path / "events.parquet", index=False)
    got = sorted(
        (
            tuple(r)
            for r in QUERIES["stream_full_outer_join"](
                spark, str(tmp_path)
            ).collect()
        ),
        key=repr,
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(
        (
            tuple(r)
            for r in con.execute(ORACLES["stream_full_outer_join"]).fetchall()
        ),
        key=repr,
    )
    con.close()
    assert got == want
    # both NULL-user null-side rows survived the sentinel filter
    assert (3, None, None) in got and (None, 4, None) in got
