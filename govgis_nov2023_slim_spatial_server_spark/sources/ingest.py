"""Ingest pipeline: GeoParquet → deduped, bbox- and ring-augmented layers store.

Distributed re-expression of the reference loader's dataflow
``gpd.read_parquet → drop_duplicates(["id","metadata_text"]) →
rename(geometry→geom) → project[table_columns] → COPY``
(reference backend/load_data.py:173-190), which materializes the whole
dataset in one pandas process — the scalability ceiling this engine removes
(SURVEY.md §3.2). Every step here is a DataFrame transform; nothing touches
the driver.

GeoParquet stores geometry as a WKB binary column, so ``spark.read.parquet``
needs no codec (the reference's shapely asyncpg codec, backend/
load_data.py:152-168, disappears). The GiST index build (backend/
load_data.py:89-99) is replaced by the derived ``bbox`` struct + an optional
spatial sort at write time that tightens Parquet row-group min/max stats —
the coarse-filter role of the R-tree (SURVEY.md §4.3.1). The same Python
pass derives ``geom_rings``, the parsed rings the native point refine
reads, so no query decodes WKB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.spatial import wkb_geometry_udf
from ..schemas import TABLE_COLUMNS


def ingest_layers(
    spark: SparkSession,
    path: str,
    geometry_col: str = "geometry",
) -> DataFrame:
    """Read + dedup + rename + project + derive bbox and rings (reference
    O1–O4 + O7-equivalent)."""
    df = spark.read.parquet(path)
    if geometry_col in df.columns and geometry_col != "geom_wkb":
        df = df.withColumnRenamed(geometry_col, "geom_wkb")
    df = df.dropDuplicates(["id", "metadata_text"])
    cols = [c for c in TABLE_COLUMNS if c in df.columns]
    df = df.select(*cols)
    return derive_geometry(df)


def derive_geometry(df: DataFrame, geom_col: str = "geom_wkb") -> DataFrame:
    """Attach the pruning ``bbox`` struct and the refine ``geom_rings``
    column, both from ONE Python pass over the WKB (engine convention —
    every ingest path MUST run this or spatial pruning silently degrades
    to full scans, SURVEY.md §7 hard part (a)). Derives only the columns
    the frame lacks, so it is a no-op on a derived frame."""
    missing = [c for c in ("bbox", "geom_rings") if c not in df.columns]
    if not missing:
        return df
    # one UDF column holding both, split into the missing fields
    g = "__geometry"
    return (
        df.withColumn(g, wkb_geometry_udf()(F.col(geom_col)))
        .withColumns({c: F.col(f"{g}.{c}") for c in missing})
        .drop(g)
    )


def write_layers(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    spatial_sort: bool = True,
    target_partitions: int | None = None,
) -> None:
    """Write the layers store.

    ``spatial_sort`` range-partitions + sorts by a Z-order (Morton) key of
    the bbox centroid, so each output file covers a compact 2-D cell and
    Parquet min/max stats on the four bbox doubles prune files tightly.
    The directory-atomic parquet job commit replaces the reference's
    single-transaction COPY (backend/load_data.py:183-190).
    """
    from ..functions.spatial import zorder_key

    out = df
    if spatial_sort and "bbox" in df.columns:
        zk = zorder_key(
            (F.col("bbox.xmin") + F.col("bbox.xmax")) / 2,
            (F.col("bbox.ymin") + F.col("bbox.ymax")) / 2,
        )
        out = (
            df.withColumn("__zk", zk)
            .repartitionByRange(
                target_partitions or df.sparkSession.sparkContext.defaultParallelism,
                F.col("__zk").asc_nulls_last(),
            )
            .sortWithinPartitions("__zk")
            .drop("__zk")
        )
    elif target_partitions:
        out = df.repartition(target_partitions)
    out.write.mode(mode).parquet(path)


def load_layers(spark: SparkSession, path: str) -> DataFrame:
    """Open a layers store; a store written without a derived column
    (before ``geom_rings`` existed) gets it derived on read."""
    return derive_geometry(spark.read.parquet(path))
