"""Structured Streaming facade over the batch window operators.

The reference is pure request/response batch (SURVEY.md §2.3 — no streaming
surface); the driver's `events` table motivates this optional facade. The
same windowing expressions as operators/windows.py run under ``readStream``
with watermarks for late data.

``drain`` is the one sink every stream in the package runs to: an
availableNow run to a memory sink whose rows come back as a DataFrame.
``staged_stream`` is the one source for streams that need a fixed
micro-batch order: one parquet file per micro-batch. Both clean up after
themselves, so a session that runs many streams keeps no sink views,
queries or temp dirs behind.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def staged_stream(spark: SparkSession, frames: list[DataFrame]) -> Iterator[DataFrame]:
    """File-source stream over ``frames``, one micro-batch per frame, in
    list order.

    Each frame is written as ONE parquet file, and the files get strictly
    increasing mtimes: the file source orders by mtime
    (``latestFirst=false``) and ``maxFilesPerTrigger=1`` makes one
    micro-batch per file, so list order is processing order. The stream's
    schema is the first frame's. The staging dir is removed on exit, also
    on error; a DataFrame returned by ``drain`` inside the block reads the
    sink's rows, not these files, so it outlives the block."""
    d = tempfile.mkdtemp(prefix="stream_stage_")
    try:
        for i, frame in enumerate(frames):
            stage = os.path.join(d, f"_stage_{i}")
            frame.coalesce(1).write.parquet(stage)
            dst = os.path.join(d, f"f{i:03d}.parquet")
            shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
            shutil.rmtree(stage, ignore_errors=True)
            os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
        yield (
            spark.readStream.schema(frames[0].schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(d)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def drain(df: DataFrame, mode: str) -> DataFrame:
    """Run the streaming ``df`` to completion and return its output rows.

    One availableNow run to a memory sink under a fresh query name, in
    ``mode`` ("complete", "append" or "update"), with a checkpoint dir of
    its own. The query is stopped and the checkpoint dir removed in
    ``finally``. The returned DataFrame reads the sink's rows, which live on
    the driver; the sink's temp view is dropped before returning, so the
    rows go away with the last reference to the result."""
    spark = df.sparkSession
    name = f"__stream_{uuid.uuid4().hex}"
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    q = None
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        if q is not None:
            q.stop()
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


def streaming_tumbling_counts(
    events: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: list[str] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Windowed counts with a watermark bounding state for late data.

    Watermark semantics: events later than ``watermark`` behind the max
    seen ts are dropped and their windows finalized — this is what makes
    unbounded-stream state finite at scale. ``slide`` < duration turns the
    tumbling windows into overlapping sliding windows (each event lands in
    duration/slide windows).
    """
    win = (
        F.window(F.col(ts_col), duration, slide)
        if slide
        else F.window(F.col(ts_col), duration)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *(keys or []))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *(keys or []),
            "n_events",
            "sum_value",
        )
    )


def streaming_session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Native session windows (``F.session_window``) — the streaming
    analogue of operators/windows.sessionize."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            user_col,
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming exact dedup — the streaming face of the pipeline's dedup
    surface. ``dropDuplicatesWithinWatermark`` keeps per-key state only
    until the watermark passes (bounded state, the only viable form on an
    unbounded stream); plain ``dropDuplicates`` on a stream would grow
    state forever."""
    w = events.withWatermark(ts_col, watermark)
    if within_watermark:
        return w.dropDuplicatesWithinWatermark(keys)
    return w.dropDuplicates(keys)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    lookback: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream join: for each left event, right events of
    the same user within ``lookback`` before it.

    Both sides carry watermarks and the join has a bounded time condition —
    the two requirements that let Spark expire join state instead of
    buffering both streams forever (the stream-stream analogue of the batch
    range join in catalog/relational.join_range_events_orders).
    """
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    return l.join(
        r,
        (F.col(f"l.{user_col}") == F.col(f"r.{user_col}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}") - F.expr(f"INTERVAL {lookback}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}")),
    ).select(
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        F.col(f"l.{user_col}").alias("user_id"),
    )
