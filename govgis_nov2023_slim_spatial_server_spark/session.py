"""SparkSession factory with scale-appropriate defaults.

The reference delegates all execution to PostgreSQL over a per-request
connection (reference backend/app.py:19-25). Here the resident SparkSession
is the engine: AQE handles runtime re-planning (skew joins, partition
coalescing), Arrow makes every Python UDF boundary vectorized, and shuffle
partitioning is sized by env so the same code runs local[2] in tests and
1000 executors in production.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "govgis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Settings rationale (all public Spark knobs):
    - AQE on: runtime coalescing of shuffle partitions + skew-join splitting;
      at 100 TB the static partition count is always wrong for some stage.
    - Arrow on: Python UDFs (vector math, spatial refinement) move data in
      columnar batches instead of pickled rows.
    - ``spark.sql.files.maxPartitionBytes`` left at default 128 MB — right
      for large parquet scans; on small files Spark's split size
      ``max(openCostInBytes, bytes / cores)`` already takes over.
    - broadcast threshold default (10 MB) is fine: dims (region/nation/
      supplier) are far below it, so star joins auto-broadcast.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # coalesce to the advisory size instead of maximizing parallelism:
        # on small shuffles this collapses 32 micro-tasks into 1-2 (measured
        # 4.3s → 0.6s on the flagship query at sf0.1); on large shuffles the
        # advisory size keeps partitions executor-memory-friendly.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores event timestamps as parquet TIMESTAMP(NANOS),
        # which Spark rejects by default; read as long ns and convert in the
        # loader (schemas.load_table) to µs timestamps (same truncation DuckDB
        # applies when it coerces ns → its µs TIMESTAMP).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/govgis-spark-warehouse"),
        )
        .getOrCreate()
    )


def local_rows_df(spark, rows, schema):
    """Single-slice local DataFrame for tiny literal tables.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows over
    ``defaultParallelism`` partitions, so the FIRST action on the frame
    runs ~32 near-empty Python tasks — measured ~5 s PER ACTION for a
    2-row sentinel write at local[32] (python worker fork per task; the
    cost repeats for every fresh frame). One slice = one task = one
    worker (~0.3 s). Semantics identical; these frames are literal
    dimension/sentinel tables that downstream code broadcasts or writes
    as a single file anyway."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


# Width cost classes for `checkpoint`: (rows per task, minimum width).
# Frames that later steps re-scan (the hash-min CC edges once per driver
# iteration, the MinHash signature and gram frames once per consumer) are
# cheap per row, so per-task scheduling dominates and ~64k rows per task
# is right (profiled ~0.7 s/iteration of near-empty tasks on a 92k-edge
# graph at the inherited shuffle width). Geometry stores feed
# heavy per-row kernels (WKB parse, rasterize): ~1k rows per task keeps
# every kernel busy, and the floor of 4 keeps tiny gate stores parallel
# (measured at the 15k-row sf0.1 store: width 32 cost spatial_point_filter
# 0.45-0.54 s against ~0.29 s at width 14-16, with union_area no worse).
ITERATION = (65_536, 1)
GEOMETRY_STORE = (1_024, 4)


def spread(df):
    """Round-robin ``df`` to ``defaultParallelism`` when the input cannot
    already fill one split per core; otherwise return it unchanged.

    A single parquet file with one row group scans as ONE partition, and
    everything narrow downstream inherits that: a 32-core box ran the
    whole MinHash pipeline single-threaded (signatures 3.0 s -> 1.2 s at
    sf0.1 after spreading). The test is the optimizer's size estimate,
    read without planning an RDD or running a job: below
    ``defaultParallelism x spark.sql.files.maxPartitionBytes`` the scan
    cannot produce a split per core. At 100 TB the estimate is far above
    the threshold and this is a no-op; on small inputs the round-robin
    shuffle costs far less than the serial execution it prevents.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    split_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return df.repartition(par) if size < par * split_bytes else df


def checkpoint(df, cost=ITERATION):
    """Materialize ``df`` (``localCheckpoint``) and narrow it to about
    ``rows / rows_per_task`` partitions, never below the floor; ``cost``
    is one of the classes above.

    One job both materializes the checkpoint and counts its rows: the
    count runs over the checkpointed plan's RDD directly, because a
    DataFrame ``count()`` adds its own exchange (a second job under AQE).
    ``coalesce`` is narrow and never widens, so a frame already at or
    below the target keeps its layout and no width read is needed. The
    width is row-count-derived, never a local-mode constant."""
    rows_per_task, floor = cost
    cp = df.localCheckpoint(eager=False)
    n = cp._jdf.queryExecution().toRdd().count()
    return cp.coalesce(max(floor, -(-n // rows_per_task)))
