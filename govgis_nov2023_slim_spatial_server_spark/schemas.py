"""Canonical schemas: the reference's one table plus the driver test tables.

The reference declares its schema as CREATE TABLE DDL with pgvector
``vector(1024)`` and PostGIS ``geometry(Polygon,4326)`` columns (reference
backend/load_data.py:67-81).  Spark-native mapping (SURVEY.md §1.3):
vectors are ``array<float>`` (no codec layer needed — reference
backend/load_data.py:149 disappears), geometry is WKB ``binary`` plus an
engine-derived ``bbox`` struct used for pruning in place of the reference's
GiST index (reference backend/load_data.py:89-99), plus engine-derived
``geom_rings`` that the exact point refine reads natively.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

# Column order mirrors the reference's canonical `table_columns` list
# (reference backend/load_data.py:16-25).
TABLE_COLUMNS = [
    "id",
    "name",
    "type",
    "description",
    "url",
    "metadata_text",
    "embeddings",
    "geom_wkb",
]

# The six client-visible columns: the reference never returns the two heavy
# columns (reference backend/models.py:27 `TEXT_FIELDS = table_columns[:-2]`).
TEXT_FIELDS = TABLE_COLUMNS[:-2]

BBOX_SCHEMA = StructType(
    [
        StructField("xmin", DoubleType(), True),
        StructField("ymin", DoubleType(), True),
        StructField("xmax", DoubleType(), True),
        StructField("ymax", DoubleType(), True),
    ]
)

# One entry per polygon, each ring a flat [x0, y0, x1, y1, ...] list: what
# the native point refine reads (functions/spatial.py::polys_rings,
# point_in_rings). Derived at ingest from geom_wkb, beside bbox.
GEOM_RINGS_TYPE = ArrayType(
    StructType(
        [
            StructField("degenerate", BooleanType(), False),
            StructField(
                "rings", ArrayType(ArrayType(DoubleType(), False), False), False
            ),
        ]
    ),
    False,
)

# The ingest derivation's output: both engine-added columns in one struct.
GEOMETRY_SCHEMA = StructType(
    [
        StructField("bbox", BBOX_SCHEMA, True),
        StructField("geom_rings", GEOM_RINGS_TYPE, True),
    ]
)

LAYERS_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("name", StringType(), True),
        StructField("type", StringType(), True),
        StructField("description", StringType(), True),
        StructField("url", StringType(), True),
        StructField("metadata_text", StringType(), True),
        StructField("embeddings", ArrayType(FloatType(), False), True),
        StructField("geom_wkb", BinaryType(), True),
        # engine-added pruning and refine columns (SURVEY.md §4.3.1)
        StructField("bbox", BBOX_SCHEMA, True),
        StructField("geom_rings", GEOM_RINGS_TYPE, True),
    ]
)

# Driver synthetic tables (/root/testdata/sf*/<name>.parquet, FIXTURES.md §A).
DRIVER_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize `events.ts` to a session-zone (UTC) µs timestamp.

    The driver testdata has shipped two physical shapes for this column:
    parquet TIMESTAMP(NANOS) — which Spark reads as a long of nanoseconds
    under ``spark.sql.legacy.parquet.nanosAsLong`` — and plain µs
    TIMESTAMP_NTZ. Both collapse here to one downstream shape so every
    ``cast("long")`` (epoch seconds) and window expression keeps working.
    ns → µs uses integer division (truncation), matching DuckDB's ns→µs
    coercion; NTZ → LTZ is value-preserving because the session zone is
    pinned to UTC (session.get_spark).
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session confs that change how parquet types map to Spark types: part of
# the key of every memoized schema.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)
# (path, confs) -> (footer digest, inferred schema). Module-level, so it
# outlives session restarts; a rewrite replaces its path's entry.
_PARQUET_SCHEMAS: dict[tuple, tuple[bytes, StructType]] = {}


def _is_local(path: str) -> bool:
    """A scheme-less local path (not an hdfs:// / s3:// / file: URI)."""
    return "://" not in path and not path.startswith("file:")


def _parquet_footer(path: str) -> bytes | None:
    """The footer of a local parquet file (metadata, its length, the
    magic), read from the tail; None when the path is not a local file
    that ends like parquet."""
    if not _is_local(path):
        return None
    try:
        with open(path, "rb") as f:
            f.seek(-8, os.SEEK_END)
            tail = f.read(8)
            if tail[4:] != b"PAR1":
                return None
            f.seek(-8 - int.from_bytes(tail[:4], "little"), os.SEEK_END)
            return f.read()
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema job on a repeat read.

    Inferring a parquet schema runs a one-task Spark job on every read.
    The inferred schema is memoized under what decides it: the path, the
    file's footer (not its mtime: a rewrite in place can keep the mtime
    and the size) and the type-mapping confs. URIs and paths that cannot
    be opened as a parquet file take the plain read, so Spark reports
    its own errors."""
    footer = _parquet_footer(path)
    if footer is None:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), tuple(spark.conf.get(k) for k in _PARQUET_SCHEMA_CONFS))
    digest = hashlib.sha256(footer).digest()
    memo = _PARQUET_SCHEMAS.get(key)
    if memo is not None and memo[0] == digest:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    _PARQUET_SCHEMAS[key] = (digest, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table. Plain parquet scan → Catalyst gets pushdown,
    pruning, and the vectorized reader for free; the schema is inferred
    once per file content (``read_parquet``).

    `events.ts` arrives as long-ns or µs TIMESTAMP_NTZ depending on the
    testdata generation; `normalize_events_ts` collapses both to a µs
    timestamp — the same values DuckDB sees, so oracle comparisons agree.
    """
    if name == "events":
        # must be set on whatever session the driver hands us, not only ours
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the NTZ→LTZ cast in normalize_events_ts (and any to_date/epoch
        # math downstream) reads the SESSION timezone: on a non-UTC
        # session every events-derived epoch second would shift by the
        # zone offset while DuckDB stays UTC — pin it here, session-
        # agnostic, just like nanosAsLong (verified: an America/
        # Los_Angeles session shifts epochs by 28800 s without this)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table PRESENT in ``sf_dir`` as a temp view
    for the spark.sql path. Tables whose parquet file is absent are
    skipped rather than registered broken — a partial database (the
    property harnesses write single tables; production datasets routinely
    lack optional tables) can still serve SQL over what it has, and a
    query touching a missing table fails at analysis with TABLE_NOT_FOUND
    either way."""
    from pyspark.errors import AnalysisException

    # the os.path.exists probe is only meaningful for plain local paths;
    # an hdfs:// / s3:// / file:-URI sf_dir must go through spark.read
    # (where PATH_NOT_FOUND surfaces as AnalysisException)
    local_fs = _is_local(sf_dir)
    for name in DRIVER_TABLES:
        if local_fs and not os.path.exists(
            os.path.join(sf_dir, f"{name}.parquet")
        ):
            # drop any stale same-name view from a previous registration —
            # silently serving another directory's data would be worse
            # than TABLE_NOT_FOUND
            spark.catalog.dropTempView(name)
            continue
        try:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        except AnalysisException as exc:
            # Only a genuinely-absent path means "skip the view" — any
            # other analysis error (corrupt footer, schema conflict) on a
            # present table must surface now as the real error rather
            # than re-appear later as a misleading TABLE_NOT_FOUND.
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition")
                else exc.getErrorClass()
            )
            if cond != "PATH_NOT_FOUND":
                raise
            spark.catalog.dropTempView(name)
