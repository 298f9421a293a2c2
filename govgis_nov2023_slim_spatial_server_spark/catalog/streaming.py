"""Structured Streaming catalog entries.

Each entry is a REAL streaming execution behind the driver's correctness
gate: a file-source stream over the events data, drained with an
``availableNow`` trigger to a memory sink. availableNow processes every
available file then stops, so the run is finite and deterministic — which
is why these streams CAN carry a SQL oracle (e.g. the complete-mode
windowed result equals the batch GROUP BY over the same input).

All of them run through the one harness in streaming/facade.py:
``drain`` is the sink, and the entries that need a fixed micro-batch
order stage their input with ``staged_stream``; the rest stream the events
file itself (``_events_stream``).
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sketches import hll_registers_by_group, hll_registers_to_estimate
from ..operators.windows import floor_round
from ..schemas import load_table as _t
from ..schemas import normalize_events_ts
from ..session import local_rows_df
from ..streaming.facade import (
    drain,
    staged_stream,
    streaming_dedup,
    streaming_interval_join,
    streaming_session_counts,
    streaming_tumbling_counts,
)
from ..streaming.stateful import running_totals_per_user
from ._registry import query


@query(
    "stream_tumbling_event_counts",
    """
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start_s,
           event_type,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 10000.0 + 0.5) / 10000.0 AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts computed BY THE STREAMING ENGINE
    (readStream → withWatermark → window agg → availableNow drain), then
    compared against the plain batch SQL the oracle runs. Proves the
    streaming plan computes the same answer as batch on a bounded input —
    Structured Streaming's core contract."""
    ev = _events_stream(spark, sf_dir)
    agg = streaming_tumbling_counts(
        ev, duration="1 hour", watermark="2 hours", keys=["event_type"]
    )
    return drain(agg, "complete").select(
        F.col("window_start").cast("long").alias("window_start_s"),
        "event_type",
        "n_events",
        floor_round(F.col("sum_value"), 4).alias("sum_value"),
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    The stream schema is taken from a batch read of the SAME file — a
    hardcoded schema silently misreads when the testdata's physical ts
    type changes (long-ns vs µs TIMESTAMP_NTZ have both shipped), because
    the parquet reader will happily surface an int64 µs column through a
    ``ts long`` schema. Then the same batch-side ts normalization applies
    (schemas.normalize_events_ts), so stream and batch see identical µs
    timestamps."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # same session pin as the batch loader (schemas.load_table): the
    # NTZ→LTZ cast inside normalize_events_ts reads the SESSION zone, and
    # streaming entries lead the graded prefix — on a non-UTC driver
    # session every window_start_s would shift by the zone offset vs the
    # UTC DuckDB oracle (the verified 28800 s failure mode)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(path).schema
    # Layout-aware source: the file-source stream requires a DIRECTORY
    # basePath, so when events.parquet is a Spark-written directory of
    # part files, stream that directory itself; when it is the driver
    # testdata's single file, stream sf_dir with a glob pinning the one
    # file. The previous unconditional glob silently read ZERO rows on
    # the directory layout — the part-*.parquet leaves fail the
    # 'events.parquet' filename filter (caught by the r8 scale
    # rehearsal, whose replicated corpora are df.write.parquet dirs).
    if os.path.isdir(path):
        src = spark.readStream.schema(raw_schema).parquet(path)
    else:
        src = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_events_ts(src)


@query(
    "stream_interval_join_pairs",
    """
    SELECT l.event_id AS left_id, r.event_id AS right_id, l.user_id AS user_id
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'purchase' AND r.event_type = 'click'
     AND r.ts >= l.ts - INTERVAL 40 MINUTE AND r.ts <= l.ts
    """,
)
def stream_interval_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join run BY THE STREAMING ENGINE:
    purchases matched to same-user clicks in the 40 min before them. Inner
    stream-stream joins emit pairs as they match (the watermark only bounds
    join state), so the drained availableNow result equals the batch join —
    which is exactly what the oracle states."""
    ev = _events_stream(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    joined = streaming_interval_join(
        purchases, clicks, lookback="40 minutes", watermark="48 hours"
    )
    return drain(joined, "append")


@query(
    "stream_dedup_user_type",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark) on
    (user_id, event_type): per-key state lives only until the watermark
    passes — the bounded-state form an unbounded 100 TB/day stream needs.
    WHICH row survives per key is arrival-order-dependent, so the entry
    emits only the key columns; the surviving KEY SET is deterministic and
    equals batch SELECT DISTINCT."""
    ev = _events_stream(spark, sf_dir)
    deduped = streaming_dedup(ev, ["user_id", "event_type"], watermark="48 hours")
    return drain(deduped, "append").select("user_id", "event_type")


@query(
    "stream_stateful_running_totals",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))::BIGINT / 100.0 AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state run BY THE STREAMING ENGINE:
    ``applyInPandasWithState`` running (count, sum) totals per user, state
    checkpointed across micro-batches (streaming/stateful.py). The events
    table is re-written as four ts-quartile files streamed one per trigger,
    so the final emission per key really is state carried across four
    micro-batches — and equals the batch GROUP BY, which is the oracle.
    Sums accumulate exact integer cents (events.value is 2-decimal data),
    making the total independent of batching order; the oracle applies the
    identical per-value floor."""
    # four ts-quartile frames, one micro-batch each (ntile over the same
    # total order the other staged entries use; the checkpoint feeds the
    # four writes)
    ranked = (
        _t(spark, sf_dir, "events")
        .withColumn("q", F.ntile(4).over(Window.orderBy("ts", "event_id")))
        .localCheckpoint(eager=True)
    )
    frames = [ranked.where(F.col("q") == i).drop("q") for i in range(1, 5)]
    with staged_stream(spark, frames) as src:
        rows = drain(running_totals_per_user(src), "update")
    # update mode re-emits a key's row each batch it changes; n_events is
    # strictly increasing per key, so max_by picks the final state
    return rows.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
    )


@query(
    "stream_sliding_event_counts",
    """
    WITH assigned AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws, value FROM events
    )
    SELECT CAST(epoch(ws) AS BIGINT) AS window_start_s,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 10000.0 + 0.5) / 10000.0 AS sum_value
    FROM assigned
    GROUP BY 1
    """,
)
def stream_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 1h/30min sliding windows computed BY THE STREAMING
    ENGINE (each event fans out to two windows), availableNow drain in
    complete mode; the oracle is the batch double-assignment SQL — same
    contract as the tumbling entry, proving the sliding state shape too."""
    ev = _events_stream(spark, sf_dir)
    agg = streaming_tumbling_counts(
        ev, duration="1 hour", watermark="2 hours", slide="30 minutes"
    )
    return drain(agg, "complete").select(
        F.col("window_start").cast("long").alias("window_start_s"),
        "n_events",
        floor_round(F.col("sum_value"), 4).alias("sum_value"),
    )


@query(
    "stream_session_user_totals",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                          - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             (SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS sid
      FROM flagged)
    SELECT user_id,
           CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start_s,
           COUNT(*) AS n_events,
           FLOOR(SUM(value) * 10000.0 + 0.5) / 10000.0 AS sum_value
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def stream_session_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows run BY THE STREAMING ENGINE
    (``F.session_window`` + watermark, availableNow drain in complete
    mode): per-(user, session) event counts and value sums. Session-window
    boundary semantics MERGE an event landing exactly at the previous
    window's end (a new session needs gap STRICTLY greater than the
    timeout — proven in tests/test_streaming.py's boundary test), matching
    the batch sessionizer's > comparison, so the oracle reuses the same
    gap-and-islands form. Sessions are identified by their start time
    rather than an ordinal so no cross-engine session-numbering is
    needed."""
    ev = _events_stream(spark, sf_dir)
    agg = streaming_session_counts(ev, gap="30 minutes", watermark="48 hours")
    return drain(agg, "complete").select(
        "user_id",
        F.col("session_start").cast("long").alias("session_start_s"),
        "n_events",
        floor_round(F.col("sum_value"), 4).alias("sum_value"),
    )


@query(
    "stream_topk_types_per_window",
    """
    WITH c AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2)
    SELECT CAST(epoch(ws) AS BIGINT) AS window_start_s, event_type, n_events,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY ws ORDER BY n_events DESC, event_type) AS rk
          FROM c)
    WHERE rk <= 2
    """,
)
def stream_topk_types_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: top-2 event types per 1-hour window. Ranking
    needs the window's FINAL counts, which streaming can't know before the
    watermark closes the window — so this is the standard two-phase
    pipeline: the STREAMING ENGINE maintains the watermarked windowed
    counts (state bounded by watermark horizon × type cardinality), and
    the rank runs as a batch window function over the drained aggregate
    (in production: over the sink table, per closed window). The oracle
    states the end-to-end contract; the rank input is the tiny aggregate
    (windows × types), never the raw stream."""
    ev = _events_stream(spark, sf_dir)
    agg = streaming_tumbling_counts(
        ev, duration="1 hour", watermark="2 hours", keys=["event_type"]
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        drain(agg, "complete")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 2)
        .select(
            F.col("window_start").cast("long").alias("window_start_s"),
            "event_type",
            "n_events",
            "rk",
        )
    )


@query(
    "stream_late_data_drop",
    """
    WITH ranked AS (
      SELECT ts, event_id,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn
      FROM events),
    a AS (SELECT ts FROM ranked WHERE rn > 100),
    wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM a)
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', a.ts)) AS BIGINT)
             AS window_start_s,
           COUNT(*) AS n_events
    FROM a CROSS JOIN wm
    GROUP BY 1, wm.w
    HAVING CAST(epoch(time_bucket(INTERVAL '1 hour', MIN(a.ts))) AS BIGINT) + 3600
           <= CAST(FLOOR(epoch(wm.w)) AS BIGINT)
    """,
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP, actually executed: the 100 earliest
    events are withheld into the LAST of three files; the stream
    processes the bulk and a recent tail first (maxFilesPerTrigger=1
    forces one micro-batch per file), advances the watermark to
    max(ts)−2h, then sees the stragglers — all far older than the
    watermark — and MUST discard them. Append mode additionally emits
    only windows finalized below the watermark.

    The oracle states both halves of the contract in batch SQL: counts
    come from the on-time file alone (the stragglers contribute to no
    window), and only windows whose end ≤ final watermark appear. This is
    the one streaming behavior the other six entries can't show — they
    all process a single availableNow batch where nothing is ever late.
    Input files are staged by `staged_stream` (file order = processing
    order) and removed after the drain; the result lives in the memory
    sink, not the files. Staging is Spark-side: a global
    row_number rank (one window task — same total order the oracle's
    ROW_NUMBER uses; this is harness staging, not a scale path) feeds
    three filtered single-file writes, so no table ever materializes on
    the driver. Split sizes are guarded: fewer than 150 events would
    make the late/tail slices overlap, so that fails loudly instead of
    silently double-counting rows the oracle counts once."""
    ev = _t(spark, sf_dir, "events")
    n = ev.count()
    # strictly > 150: at exactly 150 the a_bulk split (100 < rn <= n-50)
    # is EMPTY, batch 0 would establish no watermark, and the documented
    # one-trigger watermark lag means the stragglers would NOT be dropped
    if n <= 150:
        raise AssertionError(
            f"stream_late_data_drop needs > 150 events for non-empty "
            f"late(100)/bulk/tail(50) splits; got {n}"
        )
    ranked = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    ).localCheckpoint(eager=True)
    # THREE micro-batches, not two: Spark's late-row filter uses the
    # watermark as of the PREVIOUS batch (it lags one trigger — verified
    # empirically: with stragglers in batch 1 the filter watermark is
    # still the epoch and numRowsDroppedByWatermark stays 0). Bulk in
    # batch 0 establishes the watermark, a small recent tail in batch 1
    # activates it for filtering, the stragglers in batch 2 hit it.
    splits = [
        (F.col("rn") > 100) & (F.col("rn") <= n - 50),  # bulk
        F.col("rn") > n - 50,  # recent tail
        F.col("rn") <= 100,  # stragglers
    ]
    with staged_stream(spark, [ranked.where(p).drop("rn") for p in splits]) as src:
        agg = streaming_tumbling_counts(src, duration="1 hour", watermark="2 hours")
        rows = drain(agg.select("window_start", "n_events"), "append")
    return rows.groupBy(
        F.col("window_start").cast("long").alias("window_start_s")
    ).agg(F.sum("n_events").alias("n_events"))


@query(
    "stream_static_enrich",
    """
    SELECT n.n_name AS n_name, e.event_type AS event_type,
           COUNT(*) AS n_events,
           FLOOR(SUM(e.value) * 10000.0 + 0.5) / 10000.0 AS sum_value
    FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join run BY THE STREAMING ENGINE — the
    single most common production streaming shape (enrich an event stream
    with a dimension table before aggregating), and the one join form the
    stream-stream entries don't cover: the static side is a plain batch
    DataFrame, joined stateless per micro-batch (Spark broadcasts it — a
    map-side hash lookup riding the stream, no join state, no watermark
    required on the dim). The enriched stream then aggregates per
    (region, event_type) in complete mode and drains with availableNow,
    so the result equals the batch join+GROUP BY the oracle states. At
    100 TB/day the dim broadcast refreshes per micro-batch — the
    slowly-changing upgrade is the scd2 build feeding this same join."""
    ev = _events_stream(spark, sf_dir)
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("nk"), "n_name"
    )
    enriched = ev.join(nation, (F.col("user_id") % 25) == F.col("nk"))
    agg = enriched.groupBy("n_name", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    return drain(agg, "complete").select(
        "n_name",
        "event_type",
        "n_events",
        floor_round(F.col("sum_value"), 4).alias("sum_value"),
    )


@query(
    "stream_cdc_apply",
    """
    WITH last AS (
      SELECT user_id, event_type,
             CAST(FLOOR(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS v_e4,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(v_e4) AS BIGINT) AS sum_last_value_e4
    FROM last WHERE rn = 1 GROUP BY event_type
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC APPLY — the sink-side half of change-data-capture
    that `cdc_upsert_snapshot` (batch MERGE) leaves open: a change feed
    arrives in micro-batches and every batch is MERGEd into a persistent
    keyed snapshot via foreachBatch, exactly how Structured Streaming
    maintains a Delta/Iceberg mirror table in production. The events
    stream is the change feed (key = user_id, version = (ts, event_id),
    payload = event_type/value); after the availableNow drain the
    snapshot must hold each user's LAST-writer row, which is what the
    batch QUALIFY-style oracle states over the same events.

    Per micro-batch (maxFilesPerTrigger=1 over three staged files sliced
    by INGESTION order — event_id, not event time, so out-of-order
    version arrivals really happen — forcing a genuinely incremental
    ≥3-batch run at gate scale):
    (1) batch-local last-writer-wins — one row_number window per key,
    because a single CDC batch can carry several versions of a key;
    (2) MERGE — ONE full-outer sort-merge join of the snapshot against
    the batch on the key, taking the batch row iff its (ts, event_id)
    version strictly exceeds the snapshot's (version comparison, NOT
    arrival order: a late-arriving older change must lose, which the
    pytest proves by replaying a shuffled feed); (3) the merged snapshot
    is localCheckpointed — bounded lineage across arbitrarily many
    batches, standing in for the table-format write a cluster does. At
    100 TB the snapshot is a key-bucketed table and step 2 is the same
    exchange-free SMJ per batch; state never lives on the driver. Money
    stays exact e4 int64 end-to-end. The final scorecard (per-type user
    count + last-value sum) is the reconciliation row an apply job
    publishes after each drain.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000.0 + F.lit(0.5)).cast("long").alias("v_e4"),
    )
    n = ev.count()
    if n == 0:  # empty change feed ⇒ empty snapshot scorecard
        return spark.createDataFrame(
            [], "event_type string, n_users long, sum_last_value_e4 long"
        )
    # arrival order = INGESTION order (event_id), deliberately NOT the
    # version order (ts, event_id): whenever event_id and ts are
    # decorrelated, later batches carry older versions and the merge's
    # version comparison — not arrival order — must decide the winner
    ranked = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("event_id"))
    ).localCheckpoint(eager=True)
    b1, b2 = n // 3, (2 * n) // 3
    slices = [
        (F.col("rn") <= b1, b1),
        ((F.col("rn") > b1) & (F.col("rn") <= b2), b2 - b1),
        (F.col("rn") > b2, n - b2),
    ]
    # tiny corpora: skip empty slices
    frames = [ranked.where(p).drop("rn") for p, size in slices if size > 0]
    state: dict = {"df": None, "batches": 0}

    def apply_batch(bdf, batch_id):
        state["batches"] += 1
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts_us").desc(), F.col("event_id").desc()
        )
        b = (
            bdf.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        s = state["df"]
        if s is None:
            merged = b
        else:
            bb = b.select(
                F.col("user_id").alias("b_user_id"),
                F.col("ts_us").alias("b_ts_us"),
                F.col("event_id").alias("b_event_id"),
                F.col("event_type").alias("b_event_type"),
                F.col("v_e4").alias("b_v_e4"),
            )
            take_b = F.col("b_ts_us").isNotNull() & (
                F.col("ts_us").isNull()
                | (
                    F.struct("b_ts_us", "b_event_id")
                    > F.struct("ts_us", "event_id")
                )
            )
            # null-safe key: NULL is one user, as the batch window's
            # (and the oracle's) PARTITION BY user_id reads it
            merged = s.join(
                bb, s["user_id"].eqNullSafe(bb["b_user_id"]), "full_outer"
            ).select(
                F.coalesce("user_id", "b_user_id").alias("user_id"),
                F.when(take_b, F.col("b_ts_us")).otherwise(F.col("ts_us")).alias("ts_us"),
                F.when(take_b, F.col("b_event_id"))
                .otherwise(F.col("event_id"))
                .alias("event_id"),
                F.when(take_b, F.col("b_event_type"))
                .otherwise(F.col("event_type"))
                .alias("event_type"),
                F.when(take_b, F.col("b_v_e4")).otherwise(F.col("v_e4")).alias("v_e4"),
            )
        state["df"] = merged.localCheckpoint(eager=True)

    with staged_stream(spark, frames) as src:
        q = src.writeStream.foreachBatch(apply_batch).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
    if state["batches"] < len(frames):
        raise AssertionError(
            f"CDC apply ran {state['batches']} batches for {len(frames)} staged "
            f"files — maxFilesPerTrigger did not produce an incremental run"
        )
    return state["df"].groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("v_e4").alias("sum_last_value_e4"),
    )


def _outer_interval_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Purchases × same-user clicks in the 40 min before them, as a
    watermarked stream-stream ``how`` ("left_outer" or "full_outer") join,
    staged so a finite availableNow drain emits every null-side row (the
    three staged facts are in `stream_left_outer_join`'s docstring).

    The sentinel filter runs after the sink on the COALESCED user key: it
    drops both sentinel emission shapes (each carries a negative user id)
    and keeps rows whose key is NULL — a NULL-user event never
    equi-joins, so it emits as its own null-side row, as the oracle's
    LEFT or FULL JOIN does."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    # one map-combined aggregate for all three staging scalars
    st = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("user_id").alias("lo"),
        F.max("ts").alias("mx"),
    ).collect()[0]
    n, lo, max_ts = st["n"], st["lo"], st["mx"]
    if lo is not None and lo < 0:
        raise AssertionError(
            f"stream_{how}_join reserves negative user_ids for its "
            f"watermark-advancer sentinels; data has user_id {lo}"
        )
    if max_ts is None:  # empty stream ⇒ empty join result
        return spark.createDataFrame(
            [], "purchase_id long, click_id long, user_id long"
        )
    ranked = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    ).localCheckpoint(eager=True)
    half = n // 2
    frames = [
        ranked.where(p).drop("rn")
        for p, size in ((F.col("rn") <= half, half), (F.col("rn") > half, n - half))
        if size > 0
    ]
    # two trailing watermark advancers, each one purchase and one click
    for offset_h in (4, 8):
        t = max_ts + datetime.timedelta(hours=offset_h)
        frames.append(
            local_rows_df(
                spark,
                [(-10 - offset_h, t, -1, "purchase"), (-20 - offset_h, t, -2, "click")],
                ev.schema,
            )
        )
    with staged_stream(spark, frames) as src:

        def side(etype: str, id_col: str, tag: str) -> DataFrame:
            return (
                src.where(F.col("event_type") == etype)
                .withWatermark("ts", "2 hours")
                .select(
                    F.col("event_id").alias(id_col),
                    F.col("user_id").alias(f"{tag}_user"),
                    F.col("ts").alias(f"{tag}_ts"),
                )
            )

        j = side("purchase", "purchase_id", "l").join(
            side("click", "click_id", "r"),
            (F.col("l_user") == F.col("r_user"))
            & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 40 MINUTES"))
            & (F.col("r_ts") <= F.col("l_ts")),
            how,
        )
        rows = drain(
            j.select(
                "purchase_id",
                "click_id",
                F.coalesce(F.col("l_user"), F.col("r_user")).alias("user_id"),
            ),
            "append",
        )
    return rows.where((F.col("user_id") >= 0) | F.col("user_id").isNull())


@query(
    "stream_left_outer_join",
    """
    SELECT l.event_id AS purchase_id, r.event_id AS click_id,
           l.user_id AS user_id
    FROM events l LEFT JOIN events r
      ON l.user_id = r.user_id AND r.event_type = 'click'
     AND r.ts >= l.ts - INTERVAL 40 MINUTE AND r.ts <= l.ts
    WHERE l.event_type = 'purchase'
    """,
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join, actually
    executed — the missing half of `stream_interval_join_pairs`: inner
    matches emit as they meet, but the NULL-side rows (purchases with no
    qualifying click) can only emit once the watermark PROVES no match
    can still arrive — the streaming-specific semantics this entry
    pins against the plain batch LEFT JOIN oracle.

    Determinism needs three staged facts, each earned empirically:
    (1) real events are split into two files in EVENT-TIME order, so a
    row never arrives behind the watermark and every cross-batch match
    finds its partner still in state (left state lives until wm > l_ts,
    right until wm > r_ts + 40 min — with ts-ordered arrival neither can
    be evicted before its partner shows up);
    (2) trailing watermark-advancer files follow (far-future
    purchase/click rows under sentinel users -1/-2 that match nothing):
    the null-side rows only emit once the watermark actually passes
    every real purchase. Measured: ONE advancer already suffices under
    availableNow, because the trigger schedules trailing no-data commit
    batches that apply the advanced watermark and fire the evictions;
    TWO are staged anyway as belt-and-braces for the documented
    one-trigger eviction lag (a continuous trigger guarantees no such
    extra batch — there the second advancer IS the batch that runs with
    the watermark applied);
    (3) the sentinel rows are removed AFTER the sink, never in the
    streaming plan — an in-stream `user_id >= 0` filter is pushed by
    Catalyst below the EventTimeWatermark node into both scans, the
    advancers die before the watermark collector ever sees them, and the
    watermark silently pins at the real data's max (verified: the
    symptom is a clean run with the null rows missing — nothing errors);
    the sink-side filter keeps NULL user keys, because a NULL-user
    purchase is a real row the oracle's LEFT JOIN emits. Advancers must also pass BOTH event-type filters (one per side),
    because the global watermark is the MIN across the two sides'
    watermark nodes.

    At 100 TB this is the standard enrichment-with-absence shape
    (purchases needing an attribution click, alerts on unanswered
    requests): state is watermark-bounded per side, the join shuffles
    both streams on user_id once, and the advancer role is played by
    real traffic — the staging here exists only to make a finite
    availableNow drain reach the steady state.
    """
    return _outer_interval_join(spark, sf_dir, "left_outer")


@query(
    "stream_dedup_reemit_islands",
    """
    SELECT user_id,
           CAST(1 + CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS n_emitted
    FROM (SELECT DISTINCT user_id FROM events)
    """,
)
def stream_dedup_reemit_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` RE-EMISSION semantics, actually
    executed — the behavior `stream_dedup_user_type` cannot show: that
    entry's single-batch drain never evicts state, so its output equals
    plain DISTINCT. Here each key recurs across occurrence ISLANDS
    separated by far more than the 12 h dedup delay, and the engine must
    emit the key ONCE PER ISLAND (state evicted between islands) while
    still collapsing duplicates INSIDE an island — bounded-state dedup on
    an unbounded stream, the exact contract `dropDuplicates` (infinite
    state, one global emission) cannot honor at 100 TB/day.

    Synthetic islands derived from the real key universe (DISTINCT
    user_id): every user occurs in island 0, users ≡0 (mod 3) also in
    island 1, users ≡0 (mod 5) also in island 2 — so n_emitted varies
    1..3 across keys and the oracle is pure batch SQL over the raw
    events table. Each island contributes TWO rows per member (second at
    +minutes offset) proving intra-island dedup; islands are 72 h apart
    with all member rows inside [base, base+7 h], so every island's
    dedup state (expiry ≤ base+19 h under either first-event or
    extended-expiry semantics) is dead long before the next island's
    batch regardless of the documented one-trigger watermark lag:
    rider-only files between islands (unique negative keys, filtered
    after the sink — the watermark-advancer convention) push the
    operative watermark to island_base+28 h even when it lags a full
    batch. Five `staged_stream` files, ``maxFilesPerTrigger=1`` ⇒ one
    micro-batch per file, append-mode memory sink; emissions counted per
    key AFTER the drain."""
    users = _t(spark, sf_dir, "events").select("user_id").distinct()
    t0 = 1_709_251_200  # 2024-03-01 00:00:00 UTC, fixed epoch seconds
    u = F.col("user_id")

    def island(j: int, pred) -> DataFrame:
        base = t0 + j * 72 * 3600
        first = base + (u % 6).cast("long") * 3600
        m = users.where(pred)
        occ1 = m.select(u.alias("user_id"), F.timestamp_seconds(first).alias("ts"))
        occ2 = m.select(
            u.alias("user_id"),
            F.timestamp_seconds(first + ((u % 11) + 1).cast("long") * 60).alias("ts"),
        )
        return occ1.unionAll(occ2)

    islands = [
        island(0, F.lit(True)),
        island(1, u % 3 == 0),
        island(2, u % 5 == 0),
    ]
    # rider files between/after islands: max-ts anchors so the operative
    # watermark (even lagging one batch) clears the previous island's
    # dedup state before the next island's batch runs
    def rider(key: int, sec: int) -> DataFrame:
        return spark.range(1).select(
            F.lit(key).cast("long").alias("user_id"),
            F.timestamp_seconds(F.lit(t0 + sec)).alias("ts"),
        )

    files = [
        islands[0].unionAll(rider(-1, 40 * 3600)),
        rider(-2, 66 * 3600),
        islands[1].unionAll(rider(-3, 112 * 3600)),
        rider(-4, 138 * 3600),
        islands[2].unionAll(rider(-5, 184 * 3600)),
    ]
    with staged_stream(spark, files) as src:
        deduped = src.withWatermark("ts", "12 hours").dropDuplicatesWithinWatermark(
            ["user_id"]
        )
        rows = drain(deduped, "append")
    return (
        rows.where(F.col("user_id") >= 0)  # drop the rider sentinels
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_emitted"))
    )


# The win-keyed sibling of catalog/sketches._HLL_REGS_CTES (same pinned
# mix constants — change one, change both): registers per TUMBLING HOUR
# instead of per event_type. win = (floor(epoch(ts)) DIV 3600) · 3600,
# matching Spark's long-cast truncation for positive timestamps.
_HLL_WIN_REGS_CTES = """WITH k0 AS (
      SELECT (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) * 3600 AS win,
             ((user_id % 1048576) + 1048576) % 1048576 AS t
      FROM events WHERE user_id IS NOT NULL),
    m1 AS (
      SELECT win,
             ((t % 134217728) * 102334155 + (t // 134217728) * 97654321
              + 12345) % 18014398509481951 AS t
      FROM k0),
    x1 AS (SELECT win, xor(t, t >> 21) AS t FROM m1),
    m2 AS (
      SELECT win,
             ((t % 134217728) * 88675123 + (t // 134217728) * 134775813
              + 424242) % 18014398509481951 AS t
      FROM x1),
    x2 AS (SELECT win, xor(t, t >> 21) AS t FROM m2),
    m3 AS (
      SELECT win,
             ((t % 134217728) * 75327617 + (t // 134217728) * 123456789
              + 999983) % 18014398509481951 AS t
      FROM x2),
    h AS (SELECT win, xor(t, t >> 21) AS h FROM m3),
    r AS (
      SELECT win, h % 64 AS j,
             CASE WHEN h // 64 = 0 THEN 49
                  ELSE length(bin((h // 64) & (-(h // 64)))) END AS rho
      FROM h),
    regs AS (
      SELECT win, j, MAX(rho) AS r FROM r GROUP BY win, j)"""


@query(
    "stream_hll_distinct_windows",
    "\n    "
    + _HLL_WIN_REGS_CTES
    + """,
    s AS (
      SELECT win,
             CAST(SUM(CAST(1 AS BIGINT) << (49 - r))
               + (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 49) AS BIGINT)
               AS register_sum
      FROM regs GROUP BY win),
    x AS (
      SELECT (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) * 3600 AS win,
             COUNT(DISTINCT user_id) AS exact_distinct
      FROM events WHERE user_id IS NOT NULL GROUP BY 1)
    SELECT s.win AS window_start_s,
           s.register_sum AS register_sum,
           CAST('1675339061381824512' AS DOUBLE)
             / CAST(s.register_sum AS DOUBLE) AS hll_estimate,
           x.exact_distinct AS exact_distinct
    FROM s JOIN x USING (win)
    """,
)
def stream_hll_distinct_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count with SKETCH-BOUNDED state, run BY THE
    STREAMING ENGINE: per tumbling hour the stream maintains the pinned
    64-register HLL (groupBy(win, register).MAX(rho) — a stateful
    streaming aggregate whose state is 64 rows PER WINDOW regardless of
    arrival count), drained availableNow in complete mode; register sums
    and the estimate are then derived batch-side from the tiny snapshot
    (`operators/sketches.hll_registers_to_estimate`). This is THE
    100 TB streaming-distinct design: exact per-key distinct state grows
    with cardinality and must eventually be dropped or spilled, while
    MAX-of-rank registers absorb any arrival rate in constant state and
    stay correct across restarts because MAX is idempotent under replay
    — re-delivered rows can only re-assert the register they already
    set. The oracle recomputes the identical registers per hour in
    batch SQL (the win-keyed sibling of the `_HLL_REGS_CTES` chain), so
    the streaming engine's stateful MAX is held to the exact integer
    answer; exact_distinct rides along from a batch read, as in
    `sketch_hll_distinct_users`. Production notes in-plan: complete
    mode suits the bounded drain; a continuous deployment would use
    update mode + watermark and MERGE emitted register deltas downstream
    (register MAX-merge is `sketch_hll_merge_union`'s graded algebra)."""
    ev = _events_stream(spark, sf_dir).where(F.col("user_id").isNotNull())
    win = (F.col("ts").cast("long") - F.pmod(F.col("ts").cast("long"), F.lit(3600))).alias(
        "win"
    )
    regs = drain(
        hll_registers_by_group(ev.select(win, "user_id"), "win", "user_id"),
        "complete",
    )
    exact = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(win, "user_id")
        .groupBy("win")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return hll_registers_to_estimate(regs, ["win"]).join(exact, "win").select(
        F.col("win").alias("window_start_s"),
        "register_sum",
        "hll_estimate",
        "exact_distinct",
    )


@query(
    "stream_full_outer_join",
    """
    SELECT l.event_id AS purchase_id, r.event_id AS click_id,
           COALESCE(l.user_id, r.user_id) AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') l
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts - INTERVAL 40 MINUTE AND r.ts <= l.ts
    """,
)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join, actually
    executed — the last missing member of the streaming join family
    (inner: `stream_interval_join_pairs`; stream-static:
    `stream_static_enrich`; left outer: `stream_left_outer_join`): BOTH
    null sides must emit, each under its own watermark proof —
    purchases with no qualifying click once the watermark passes the
    purchase's event time, AND clicks that attributed no purchase once
    the watermark proves no purchase in [r_ts, r_ts + 40 min] can still
    arrive. The batch oracle is the plain FULL JOIN of the two
    type-filtered sides.

    Runs the same `_outer_interval_join` as the left-outer entry, with
    the same staging facts (each earned empirically, see that entry's
    docstring): event-time-ordered file split so partners are never
    evicted early; TWO trailing watermark-advancer files whose sentinel
    rows pass BOTH sides' type filters (the global watermark is the min
    across both watermark nodes) and match nothing (negative user_ids);
    sentinels removed only AFTER the sink on the COALESCED user key — an
    in-stream filter would be pushed below the EventTimeWatermark node
    and pin the watermark silently. The full-outer-specific check:
    sentinel rows themselves emit as null-side rows (a sentinel purchase
    has no click, a sentinel click no purchase), which is exactly why
    the sink-side filter uses the coalesced key — it must drop BOTH
    sentinel emission shapes.

    At 100 TB this is reconciliation-with-absence in both directions
    (unattributed conversions AND orphaned touchpoints in one pass):
    state watermark-bounded per side, one user_id shuffle of each
    stream, advancers played by real traffic."""
    return _outer_interval_join(spark, sf_dir, "full_outer")


