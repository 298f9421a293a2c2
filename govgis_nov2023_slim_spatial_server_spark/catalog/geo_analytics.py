"""Spatial ANALYTICS queries — the areal-measurement / geo-indexing layer
on top of the predicate entries in catalog/spatial_mm.py.

The reference (a PostGIS-backed spatial server) gets ST_Area, ST_Centroid,
ST_DWithin, ST_Extent and tile indexing for free from PostGIS; this module
re-expresses them Spark-first over the engine's own WKB store (reference
backend/load_data.py:152-168 for the geometry column; backend/models.py
167-174 for the one predicate it ships — these entries are the rest of the
areal toolbox a user of a spatial server reaches for next).

Geometry store: deterministic per-customer polygons on a binary-exact
coordinate lattice (all parameters are 0.25/1.25/1.5-multiples of small
ints, so every derived coordinate is a dyadic rational that both Spark and
DuckDB represent exactly — the r8 convention that defused the
decimal-vs-double divergence class; see CLAUDE.md). Odd keys build an
L-shaped hexagon, even keys a donut (rect shell + rect hole), so the
shoelace/centroid path is exercised with holes and non-convexity, not just
rectangles. The Spark side runs the REAL stack — WKB encode → bbox derive →
parse → shoelace; the oracle replays the identical arithmetic closed-form.

Exactness: every shoelace term on this lattice is exactly representable in
float64 (few-bit dyadic rationals), so sums are order-independent and the
final divisions are single IEEE ops — raw doubles hash identically with no
rounding. The libm-dependent entries (mercator tile-y, haversine) instead
emit only DISCRETE outputs (tile ids, counts, member keys) and a lattice
margin test (tests/test_geo_analytics.py) proves every boundary decision
sits ≥1e-6 away from the cut, far beyond any cross-engine libm ulp drift.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from ..functions.spatial import (
    make_area_centroid_udf,
    make_points_in_polys_udf,
    parse_wkb_polygons,
    points_in_polys,
    wkb_length_npoints,
    wkb_linestring,
    wkb_multilinestring,
    wkb_polygon,
)
from ..operators.dissolve import (
    boolean_runs,
    dilate_runs,
    merge_runs,
    union_rings_by_key,
)
from ..operators.overlay import (
    PIECES,
    decompose,
    overlay_area,
    overlay_pairs,
    overlay_rows,
    with_area,
)
from ..operators.spatial_join import grid_blocked_overlap_join
from ..schemas import load_table
from ..session import GEOMETRY_STORE, checkpoint, local_rows_df, spread
from ..sources.ingest import derive_geometry
from ._registry import query
from ._store_cache import MaterializedStoreCache

# --------------------------------------------------------------------------
# Deterministic polygon store (binary-exact lattice)
# --------------------------------------------------------------------------

_GEO_PARAM_SQL = """
      SELECT c_custkey AS k,
             c_nationkey,
             CAST(-125.0 + (c_custkey % 40) * 1.5 AS DOUBLE) AS x0,
             CAST(24.0 + (c_custkey % 16) * 1.25 AS DOUBLE)  AS y0,
             CAST(1.0 + (c_custkey % 7) * 0.25 AS DOUBLE)    AS w,
             CAST(1.0 + (c_custkey % 5) * 0.25 AS DOUBLE)    AS h
      FROM customer
"""

# Vertex expression lattices (open rings; the SQL shoelace wraps around).
# Orientation matches the WKB encoder below: shells CCW (positive signed
# area), donut hole CW (negative) — so the oracle's raw signed sum equals
# the UDF's orientation-normalized shell-minus-holes total.
_L_VERTS = [
    ("x0", "y0"),
    ("x0 + w", "y0"),
    ("x0 + w", "y0 + h * 0.5"),
    ("x0 + w * 0.5", "y0 + h * 0.5"),
    ("x0 + w * 0.5", "y0 + h"),
    ("x0", "y0 + h"),
]
_SHELL_VERTS = [
    ("x0", "y0"),
    ("x0 + w", "y0"),
    ("x0 + w", "y0 + h"),
    ("x0", "y0 + h"),
]
_HOLE_VERTS = [  # clockwise: negative shoelace = subtracted from the shell
    ("x0 + w * 0.25", "y0 + h * 0.25"),
    ("x0 + w * 0.25", "y0 + h * 0.75"),
    ("x0 + w * 0.75", "y0 + h * 0.75"),
    ("x0 + w * 0.75", "y0 + h * 0.25"),
]


def _shoelace_sql(verts: list[tuple[str, str]]) -> tuple[str, str, str]:
    """SQL for the ring's signed shoelace sums: (2A, Sx, Sy) where
    2A = Σ(xᵢyᵢ₊₁ − xᵢ₊₁yᵢ), Sx = Σ(xᵢ+xᵢ₊₁)·crossᵢ, Sy likewise — the
    exact arithmetic functions/spatial.polygons_area_centroid performs on
    the parsed rings (term order is irrelevant: every term is an exact
    dyadic rational on this lattice)."""
    a2, sx, sy = [], [], []
    n = len(verts)
    for i in range(n):
        xi, yi = verts[i]
        xj, yj = verts[(i + 1) % n]
        cross = f"(({xi}) * ({yj}) - ({xj}) * ({yi}))"
        a2.append(cross)
        sx.append(f"(({xi}) + ({xj})) * {cross}")
        sy.append(f"(({yi}) + ({yj})) * {cross}")
    return " + ".join(a2), " + ".join(sx), " + ".join(sy)


_L_A2, _L_SX, _L_SY = _shoelace_sql(_L_VERTS)
_S_A2, _S_SX, _S_SY = _shoelace_sql(_SHELL_VERTS)
_H_A2, _H_SX, _H_SY = _shoelace_sql(_HOLE_VERTS)


def make_shape_wkb_udf():
    """pandas UDF: (key, x0, y0, w, h) → polygon WKB. Odd keys: L-shaped
    hexagon (CCW). Even keys: donut — CCW rect shell + CW rect hole. The
    Python floats here are the same exact dyadic values the oracle's SQL
    arithmetic produces, so the geometry is bit-identical across engines."""

    @pandas_udf(BinaryType())
    def _shape(
        keys: pd.Series, x0s: pd.Series, y0s: pd.Series, ws: pd.Series, hs: pd.Series
    ) -> pd.Series:
        out = []
        for k, x0, y0, w, h in zip(keys, x0s, y0s, ws, hs):
            x0, y0, w, h = float(x0), float(y0), float(w), float(h)
            if int(k) % 2 == 1:
                rings = [
                    [
                        (x0, y0),
                        (x0 + w, y0),
                        (x0 + w, y0 + h * 0.5),
                        (x0 + w * 0.5, y0 + h * 0.5),
                        (x0 + w * 0.5, y0 + h),
                        (x0, y0 + h),
                    ]
                ]
            else:
                rings = [
                    [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)],
                    [
                        (x0 + w * 0.25, y0 + h * 0.25),
                        (x0 + w * 0.25, y0 + h * 0.75),
                        (x0 + w * 0.75, y0 + h * 0.75),
                        (x0 + w * 0.75, y0 + h * 0.25),
                    ],
                ]
            out.append(wkb_polygon(rings))
        return pd.Series(out, dtype=object)

    return _shape


def _shape_store(spark: SparkSession, sf_dir: str, jitter: bool) -> DataFrame:
    """(c_custkey, c_nationkey, geom_wkb) with one shape per customer: the
    `_GEO_PARAM_SQL` lattice placement, or with ``jitter`` every vertex
    moved off the cell lattice by odd 1/64° multiples (the snap store,
    `_SNAP_PAR_OCC_SQL`'s ``p``)."""
    k = F.col("c_custkey")
    x0 = F.lit(-125.0) + (k % 40).cast("double") * 1.5
    y0 = F.lit(24.0) + (k % 16).cast("double") * 1.25
    if jitter:
        x0 = x0 + (F.lit(1.0) + (k % 8).cast("double") * 2.0) * F.lit(0.015625)
        y0 = y0 + (F.lit(3.0) + (k % 7).cast("double") * 2.0) * F.lit(0.015625)
    w = F.lit(1.0) + (k % 7).cast("double") * 0.25
    h = F.lit(1.0) + (k % 5).cast("double") * 0.25
    # spread before the WKB encode: the customer table is a single parquet
    # file (1-2 scan partitions), and every map-only geo kernel downstream
    # inherits that layout (the union-area rasterize once ran on 2 cores).
    params = spread(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_nationkey",
            x0.alias("x0"),
            y0.alias("y0"),
            w.alias("w"),
            h.alias("h"),
        )
    )
    return params.select(
        "c_custkey",
        "c_nationkey",
        make_shape_wkb_udf()(
            F.col("c_custkey"), F.col("x0"), F.col("y0"), F.col("w"), F.col("h")
        ).alias("geom_wkb"),
    )


_geo_store_cache = MaterializedStoreCache()


def _geo_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lattice polygon store (c_custkey, c_nationkey, geom_wkb, bbox,
    geom_rings), built once per session and materialized — the
    ingest-once / query-many split of sources/ingest.py (same pattern as
    spatial_mm._spatial_layers). Cached via MaterializedStoreCache (LRU +
    session-finalizer eviction); width sized by store rows (see
    session.GEOMETRY_STORE)."""
    return _geo_store_cache.get_or_build(
        spark,
        sf_dir,
        lambda: checkpoint(
            derive_geometry(_shape_store(spark, sf_dir, jitter=False)), GEOMETRY_STORE
        ),
    )


# --------------------------------------------------------------------------
# ST_Area / ST_Centroid
# --------------------------------------------------------------------------


@query(
    "spatial_area_centroid",
    f"""
    WITH p AS ({_GEO_PARAM_SQL}),
    l AS (
      SELECT k, {_L_A2} AS a2, {_L_SX} AS sx, {_L_SY} AS sy
      FROM p WHERE k % 2 = 1
    ),
    d AS (
      SELECT k, ({_S_A2}) + ({_H_A2}) AS a2,
                ({_S_SX}) + ({_H_SX}) AS sx,
                ({_S_SY}) + ({_H_SY}) AS sy
      FROM p WHERE k % 2 = 0
    ),
    u AS (SELECT * FROM l UNION ALL SELECT * FROM d)
    SELECT k AS c_custkey,
           a2 / 2.0 AS area,
           sx / (3.0 * a2) AS cx,
           sy / (3.0 * a2) AS cy
    FROM u
    """,
)
def spatial_area_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Area + ST_Centroid over the WKB store (PostGIS areal parity the
    reference inherits from PostGIS and backend/models.py never has to
    implement): parse each geometry once, emit shoelace area and centroid —
    holes subtracted (even keys are donuts), non-convexity handled (odd
    keys are L-shapes). Map-only: at 100 TB this is one scan-side pandas
    UDF pass, no shuffle at all. Raw doubles are hash-safe because every
    coordinate is lattice-dyadic (module docstring); the oracle replays the
    identical shoelace closed-form per shape."""
    store = _geo_store(spark, sf_dir)
    ac = make_area_centroid_udf()(F.col("geom_wkb")).alias("ac")
    return store.select("c_custkey", ac).select(
        "c_custkey",
        F.col("ac.area").alias("area"),
        F.col("ac.cx").alias("cx"),
        F.col("ac.cy").alias("cy"),
    )


# --------------------------------------------------------------------------
# Web-mercator tile pyramid (slippy-map z/x/y + quadkey)
# --------------------------------------------------------------------------

_TILE_Z = 6
_N_TILES = float(1 << _TILE_Z)


def _tile_cols(cx, cy):
    """Slippy-map tile indices at zoom 6 from lon/lat (OSM tile scheme —
    the same spherical-mercator math as functions/spatial.reproject, here
    as native columns so the whole assignment stays in codegen)."""
    pi = F.lit(math.pi)
    tx = F.floor((cx + F.lit(180.0)) / F.lit(360.0) * F.lit(_N_TILES))
    lat_rad = cy * pi / F.lit(180.0)
    merc = F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad))
    ty = F.floor((F.lit(1.0) - merc / pi) / F.lit(2.0) * F.lit(_N_TILES))
    return tx, ty


def _quadkey_col(tx, ty):
    digits = [
        (
            F.shiftright(tx, i).bitwiseAND(F.lit(1))
            + F.shiftright(ty, i).bitwiseAND(F.lit(1)) * F.lit(2)
        ).cast("string")
        for i in range(_TILE_Z - 1, -1, -1)
    ]
    return F.concat(*digits)


_QUADKEY_SQL = " || ".join(
    f"CAST(((tile_x >> {i}) & 1) + 2 * ((tile_y >> {i}) & 1) AS VARCHAR)"
    for i in range(_TILE_Z - 1, -1, -1)
)


@query(
    "spatial_tile_quadkey",
    f"""
    WITH p AS ({_GEO_PARAM_SQL}),
    c AS (SELECT k, x0 + w * 0.5 AS cx, y0 + h * 0.5 AS cy FROM p),
    t AS (
      SELECT k,
             CAST(FLOOR((cx + 180.0) / 360.0 * 64.0) AS BIGINT) AS tile_x,
             CAST(FLOOR((1.0 - ln(tan(cy * pi() / 180.0)
                              + 1.0 / cos(cy * pi() / 180.0)) / pi())
                        / 2.0 * 64.0) AS BIGINT) AS tile_y
      FROM c
    )
    SELECT tile_x, tile_y, {_QUADKEY_SQL} AS quadkey,
           COUNT(*) AS n_geoms, MIN(k) AS min_key
    FROM t
    GROUP BY tile_x, tile_y
    """,
)
def spatial_tile_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-pyramid precompute: assign every geometry (by bbox center) to
    its zoom-6 web-mercator slippy-map tile and quadkey — the z/x/y
    partitioning every tile server / vector-tile build / Bing-style
    quadkey index runs before rendering or spatial shuffling. At 100 TB the
    tile id IS the partition key: the groupBy shuffles O(rows) once into
    O(tiles) balanced cells (tile splitting handles hot cities — the same
    lever as the grid-blocked join). tile_x is pure exact arithmetic;
    tile_y passes through tan/ln (libm), so the lattice margin test proves
    every lattice latitude lands ≥1e-6 of a tile fraction away from any
    boundary — cross-engine ulp drift cannot flip a FLOOR."""
    store = _geo_store(spark, sf_dir)
    cx = (F.col("bbox.xmin") + F.col("bbox.xmax")) / F.lit(2.0)
    cy = (F.col("bbox.ymin") + F.col("bbox.ymax")) / F.lit(2.0)
    tx, ty = _tile_cols(cx, cy)
    t = store.select(
        F.col("c_custkey").alias("k"), tx.alias("tile_x"), ty.alias("tile_y")
    )
    return (
        t.withColumn("quadkey", _quadkey_col(F.col("tile_x"), F.col("tile_y")))
        .groupBy("tile_x", "tile_y", "quadkey")
        .agg(F.count(F.lit(1)).alias("n_geoms"), F.min("k").alias("min_key"))
    )


# --------------------------------------------------------------------------
# ST_DWithin (haversine great-circle distance)
# --------------------------------------------------------------------------

_PROBES = [(1, -100.0, 30.0), (2, -80.0, 40.0), (3, -120.0, 35.0)]
_PROBES_SQL = ", ".join(f"({i}, {lon}, {lat})" for i, lon, lat in _PROBES)


def _haversine_km(plon, plat, cx, cy):
    """Great-circle distance in km (haversine, R=6371) as a native column —
    term-for-term the oracle's SQL text, so the only cross-engine delta is
    libm ulps (absorbed by the lattice margin test on the radius cuts)."""
    pi = F.lit(math.pi)
    s1 = F.sin((plat - cy) * pi / F.lit(360.0))
    s2 = F.sin((plon - cx) * pi / F.lit(360.0))
    a = s1 * s1 + F.cos(cy * pi / F.lit(180.0)) * F.cos(plat * pi / F.lit(180.0)) * (
        s2 * s2
    )
    return F.lit(12742.0) * F.asin(F.sqrt(a))


_HAVERSINE_SQL = (
    "12742.0 * asin(sqrt("
    "sin((plat - cy) * pi() / 360.0) * sin((plat - cy) * pi() / 360.0)"
    " + cos(cy * pi() / 180.0) * cos(plat * pi() / 180.0)"
    " * (sin((plon - cx) * pi() / 360.0) * sin((plon - cx) * pi() / 360.0))))"
)


@query(
    "spatial_dwithin_haversine",
    f"""
    WITH p AS ({_GEO_PARAM_SQL}),
    c AS (SELECT k, x0 + w * 0.5 AS cx, y0 + h * 0.5 AS cy FROM p),
    probes AS (SELECT * FROM (VALUES {_PROBES_SQL}) AS v(probe_id, plon, plat)),
    d AS (SELECT probe_id, k, {_HAVERSINE_SQL} AS d_km FROM probes CROSS JOIN c)
    SELECT probe_id,
           COUNT(CASE WHEN d_km <= 600.0 THEN 1 END)  AS n_600,
           COUNT(CASE WHEN d_km <= 1500.0 THEN 1 END) AS n_1500,
           MIN(CASE WHEN d_km <= 600.0 THEN k END)    AS min_key_600
    FROM d
    GROUP BY probe_id
    """,
)
def spatial_dwithin_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_DWithin on the sphere — the 'near me within R' predicate a
    spatial server answers constantly (PostGIS ST_DWithin(geography) /
    ST_DistanceSphere): per probe point, how many store geometries sit
    within 600 km / 1500 km great-circle distance of it, plus the lowest
    member key. The probe side broadcasts (3 rows) so the 'join' is a
    map-side pass over the store — at 100 TB this is a scan with zero
    shuffle before the 3-group aggregate; a probe side too big to
    broadcast switches to the grid-blocked equi-join (spatial_join_blocked)
    with the radius converted to a cell halo. Outputs are deliberately
    DISCRETE (counts + keys): haversine crosses libm, and the lattice
    margin test proves no store-probe distance sits within 1e-6 km of
    either radius cut."""
    store = _geo_store(spark, sf_dir)
    centers = store.select(
        F.col("c_custkey").alias("k"),
        ((F.col("bbox.xmin") + F.col("bbox.xmax")) / F.lit(2.0)).alias("cx"),
        ((F.col("bbox.ymin") + F.col("bbox.ymax")) / F.lit(2.0)).alias("cy"),
    )
    probes = local_rows_df(
        spark, _PROBES, "probe_id int, plon double, plat double"
    )
    d = centers.crossJoin(F.broadcast(probes)).select(
        "probe_id",
        "k",
        _haversine_km(F.col("plon"), F.col("plat"), F.col("cx"), F.col("cy")).alias(
            "d_km"
        ),
    )
    return d.groupBy("probe_id").agg(
        F.count(F.when(F.col("d_km") <= 600.0, 1)).alias("n_600"),
        F.count(F.when(F.col("d_km") <= 1500.0, 1)).alias("n_1500"),
        F.min(F.when(F.col("d_km") <= 600.0, F.col("k"))).alias("min_key_600"),
    )


# --------------------------------------------------------------------------
# Points-in-polygons join (ST_Contains aggregation)
# --------------------------------------------------------------------------

# Point lattice: ODD multiples of 1/32. Every polygon edge coordinate is an
# EVEN multiple of 1/32 (x0/y0 are 1.5- and 1.25-multiples = 48/32, 40/32
# steps; w·{0.25,0.5,0.75,1} offsets are ≥2/32 steps), so no point can ever
# sit ON an edge — strict interior/exterior everywhere, and on rectilinear
# edges the ray-cast's crossing arithmetic is exact dyadic, so the even-odd
# verdict equals the closed-form containment the oracle states.
# (tests/test_geo_analytics.py proves the parity claim by enumeration.)
_PTS_SQL = """
      SELECT o_orderkey AS pid,
             CAST(-124.96875 + (o_orderkey % 480) * 0.125 AS DOUBLE) AS px,
             CAST(24.03125 + (o_orderkey % 168) * 0.125 AS DOUBLE)   AS py
      FROM orders WHERE o_orderkey % 8 = 0
"""


def _order_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 8 == 0)
    k = F.col("o_orderkey")
    px = F.lit(-124.96875) + (k % 480).cast("double") * 0.125
    py = F.lit(24.03125) + (k % 168).cast("double") * 0.125
    return o.select(k.alias("pid"), px.alias("px"), py.alias("py"))


@query(
    "spatial_points_in_polygons",
    f"""
    WITH p AS ({_GEO_PARAM_SQL}),
    pts AS ({_PTS_SQL})
    SELECT p.k AS c_custkey, COUNT(*) AS n_points
    FROM p JOIN pts
      ON pts.px > p.x0 AND pts.px < p.x0 + p.w
     AND pts.py > p.y0 AND pts.py < p.y0 + p.h
    WHERE CASE WHEN p.k % 2 = 1
           THEN NOT (pts.px > p.x0 + p.w * 0.5 AND pts.py > p.y0 + p.h * 0.5)
           ELSE NOT (pts.px > p.x0 + p.w * 0.25 AND pts.px < p.x0 + p.w * 0.75
                 AND pts.py > p.y0 + p.h * 0.25 AND pts.py < p.y0 + p.h * 0.75)
          END
    GROUP BY p.k
    """,
)
def spatial_points_in_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical GIS aggregation — points-in-polygons (ST_Contains
    join): how many events/assets fall inside each district polygon. Runs
    the full 100 TB shape end-to-end: points enter the grid-blocked
    equi-join as zero-area rectangles (operators/spatial_join.py — shuffled
    hash join on the cell key, never a nested loop), then the vectorized
    even-odd refine (one WKB parse per polygon per batch, all its candidate
    points ray-cast in one numpy call) decides exact containment, and a
    per-polygon count aggregates. The oracle replays containment in closed
    form — valid because the point lattice (odd 1/32-multiples) is disjoint
    from every polygon edge lattice (even 1/32-multiples): every point is
    strictly inside or outside, where even-odd and the rectangle algebra
    agree exactly."""
    store = _geo_store(spark, sf_dir)
    polys = store.select(
        "c_custkey",
        "geom_wkb",
        F.col("bbox.xmin").alias("xmin"),
        F.col("bbox.ymin").alias("ymin"),
        F.col("bbox.xmax").alias("xmax"),
        F.col("bbox.ymax").alias("ymax"),
    )
    pts = _order_points(spark, sf_dir).select(
        "pid",
        F.col("px").alias("xmin"),
        F.col("py").alias("ymin"),
        F.col("px").alias("xmax"),
        F.col("py").alias("ymax"),
    )
    pairs = grid_blocked_overlap_join(polys, pts, cell=4.0, suffix="_p")
    contained = pairs.where(
        make_points_in_polys_udf()(
            F.col("geom_wkb"), F.col("xmin_p"), F.col("ymin_p")
        )
    )
    return contained.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_points")
    )


# --------------------------------------------------------------------------
# ST_Extent dissolve (grouped bounding box + total area)
# --------------------------------------------------------------------------


@query(
    "spatial_dissolve_extent",
    f"""
    WITH p AS ({_GEO_PARAM_SQL})
    SELECT n.n_name AS n_name,
           COUNT(*) AS n_geoms,
           MIN(p.x0) AS xmin,
           MIN(p.y0) AS ymin,
           MAX(p.x0 + p.w) AS xmax,
           MAX(p.y0 + p.h) AS ymax,
           SUM(0.75 * p.w * p.h) AS total_area
    FROM p JOIN nation n ON p.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def spatial_dissolve_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped dissolve — ST_Extent + summed ST_Area per nation: the
    aggregate a GIS layer catalog publishes per region (extent rectangle
    for zoom-to-fit, total covered area for stats). The Spark side measures
    area through the REAL parse path (WKB → shoelace UDF) and the extent
    from the ingest-derived bbox struct; the oracle uses the closed form
    (both shapes cover exactly 3/4 of their w×h rect: the L cuts one
    quadrant, the donut's hole is w/2 × h/2). min/max/sum over exact
    dyadic doubles are order-independent, so no rounding is needed. The
    nation dim auto-broadcasts; one low-cardinality shuffle."""
    store = _geo_store(spark, sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    ac = make_area_centroid_udf()(F.col("geom_wkb")).alias("ac")
    return (
        store.select("c_custkey", "c_nationkey", "bbox", ac)
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_geoms"),
            F.min("bbox.xmin").alias("xmin"),
            F.min("bbox.ymin").alias("ymin"),
            F.max("bbox.xmax").alias("xmax"),
            F.max("bbox.ymax").alias("ymax"),
            F.sum("ac.area").alias("total_area"),
        )
    )


# --------------------------------------------------------------------------
# ST_Length over LINESTRING / MULTILINESTRING (linear geometry support)
# --------------------------------------------------------------------------


@query(
    "spatial_linestring_length",
    """
    WITH params AS (
      SELECT s_suppkey,
             3 + (s_suppkey % 4) AS npts,
             -120.0 + (s_suppkey % 30) * 1.5 AS x0,
             30.0 + (s_suppkey % 12) * 1.25 AS y0,
             0.5 + (s_suppkey % 3) * 0.25 AS step,
             0.75 + (s_suppkey % 5) * 0.25 AS amp
      FROM supplier),
    pts AS (
      SELECT s_suppkey, npts,
             list_transform(range(0, npts), i -> x0 + i * step) AS xs,
             list_transform(range(0, npts),
                            i -> y0 + (i % 2) * amp + i * 0.125) AS ys
      FROM params),
    seg AS (
      SELECT s_suppkey, npts,
             list_transform(range(1, npts), i ->
               sqrt((xs[CAST(i + 1 AS INT)] - xs[CAST(i AS INT)])
                    * (xs[CAST(i + 1 AS INT)] - xs[CAST(i AS INT)])
                  + (ys[CAST(i + 1 AS INT)] - ys[CAST(i AS INT)])
                    * (ys[CAST(i + 1 AS INT)] - ys[CAST(i AS INT)]))) AS ls
      FROM pts)
    SELECT s_suppkey,
           CASE WHEN s_suppkey % 2 = 0 THEN 'MULTILINESTRING'
                ELSE 'LINESTRING' END AS geom_type,
           CAST(npts + CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS n_points,
           list_reduce(ls, (a, b) -> a + b) AS length
    FROM seg
    """,
)
def spatial_linestring_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Length + ST_NPoints over LINEAR geometries — the codec's third
    geometry family after polygons and points (PostGIS parity: road/route
    length rollups; a polygon's ST_Length is 0, perimeter is a different
    function). Each supplier gets a deterministic zigzag polyline on the
    binary-exact lattice (1.5/1.25/0.25/0.125 multiples — every coordinate
    the key formula produces is the same double in both engines); EVEN
    keys wrap the same vertex walk as a two-part MULTILINESTRING split at
    vertex 1, which exercises the multi dispatch while keeping the
    segment list identical (the shared split vertex is duplicated, hence
    n_points + 1).

    The WKB is built AND parsed through the real codec (encode UDF →
    binary column → `wkb_length_npoints` decode UDF), not short-circuited
    driver-side. Length is hash-exact with NO rounding: both engines sum
    the identical per-segment sqrt list sequentially (IEEE sqrt is
    correctly rounded; the fold starts 0.0+s1 = s1 = DuckDB list_reduce's
    first-element init — the ewma discipline). Map-only plan: one scan,
    two pandas UDFs, no exchange (plan-asserted in tests).
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey")
    )

    @pandas_udf(BinaryType())
    def _make_line(keys: pd.Series) -> pd.Series:
        out = []
        for k in keys:
            k = int(k)
            npts = 3 + k % 4
            x0 = -120.0 + (k % 30) * 1.5
            y0 = 30.0 + (k % 12) * 1.25
            step = 0.5 + (k % 3) * 0.25
            amp = 0.75 + (k % 5) * 0.25
            pts = [
                (x0 + i * step, y0 + (i % 2) * amp + i * 0.125)
                for i in range(npts)
            ]
            if k % 2 == 0:
                out.append(wkb_multilinestring([pts[:2], pts[1:]]))
            else:
                out.append(wkb_linestring(pts))
        return pd.Series(out, dtype=object)

    length_schema = StructType(
        [
            StructField("length", DoubleType(), True),
            StructField("n_points", LongType(), True),
        ]
    )

    @pandas_udf(length_schema)
    def _length(wkbs: pd.Series) -> pd.DataFrame:
        lengths, counts = [], []
        for w in wkbs:
            ln, np_ = wkb_length_npoints(w)
            lengths.append(ln)
            counts.append(np_)
        return pd.DataFrame({"length": lengths, "n_points": counts})

    geom = s.select(
        "s_suppkey",
        _make_line(F.col("s_suppkey")).alias("geom_wkb"),
    )
    r = geom.select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 2 == 0, F.lit("MULTILINESTRING"))
        .otherwise(F.lit("LINESTRING"))
        .alias("geom_type"),
        _length(F.col("geom_wkb")).alias("lnp"),
    )
    return r.select(
        "s_suppkey", "geom_type", F.col("lnp.n_points").alias("n_points"),
        F.col("lnp.length").alias("length")
    )


# --------------------------------------------------------------------------
# ST_Union + ST_Area (dissolve-union per nation)
# --------------------------------------------------------------------------


# The snap store's jittered shapes reach up to 15/64° ≈ 3.75 cells past the
# lattice store's rasterize window, so its window grows by 4 cells.
_SNAP_PAD = 4


def _occupied_runs(
    spark: SparkSession, sf_dir: str, jitter: bool = False, tagged: bool = False
) -> DataFrame:
    """Scan-line RUNS (c_nationkey, iy, x0, x1) of a polygon store's
    occupied 1/16° cells, from the one rasterize pass `_runs_from`. The
    store is the cached lattice store `_geo_store`, or with ``jitter``
    the snap store, built inline (only the two snap entries read it).
    Runs from different polygons may overlap: consumers union them with
    `merge_runs` or `boolean_runs` (no DISTINCT here by design).

    ``tagged`` adds the boolean entries' ``layer`` column, c_custkey % 2
    (1 = the odd-key L-shapes, layer A; 0 = the even-key donuts, B). The
    layer rides the run key as 2·nation + parity through the same single
    rasterize, so each polygon's WKB parses once; two filtered branches
    would each rescan the store (measured ~1 s of the intersection
    entry's wall at sf0.1)."""
    if jitter:
        store, pad = _shape_store(spark, sf_dir, jitter=True), _SNAP_PAD
    else:
        store, pad = _geo_store(spark, sf_dir), 0
    if not tagged:
        return _runs_from(store, pad)
    nk = F.col("c_nationkey")
    runs = _runs_from(
        store.withColumn("c_nationkey", nk.cast("long") * 2 + F.col("c_custkey") % 2),
        pad,
    )
    return runs.select(
        F.floor(nk / 2).alias("c_nationkey"),
        (nk % 2).cast("int").alias("layer"),
        "iy",
        "x0",
        "x1",
    )


def _runs_from(store: DataFrame, pad: int) -> DataFrame:
    """The rasterize pass: one mapInPandas over a polygon store
    (c_custkey, c_nationkey, geom_wkb) emitting each polygon's occupied
    cells as scan-line runs (c_nationkey, iy, x0, x1), x1 inclusive. Per
    polygon the WKB parses once, the cell-centre grid builds in numpy,
    the vectorized even-odd kernel of `spatial_points_in_polygons` keeps
    the centres inside (donut holes excluded by parity, not
    special-casing), and one diff over the mask finds each scan line's
    runs. Rows ∝ polygon boundary length, not covered area.

    The window (ix0, iy0, nx, ny) is the store's key-modulo lattice
    placement; ``pad`` widens it by that many cells on the +x/+y sides
    (0 on the lattice store; `_SNAP_PAD` on the jittered one). Only
    centres the ray cast proves inside are kept, so a too-wide window
    costs point tests, never correctness."""
    k = F.col("c_custkey")
    enriched = store.select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "geom_wkb",
        ((k % 40) * 24 - 2000).cast("long").alias("ix0"),
        (F.lit(384) + (k % 16) * 20).cast("long").alias("iy0"),
        (F.lit(16 + pad) + (k % 7) * 4).cast("int").alias("nx"),
        (F.lit(16 + pad) + (k % 5) * 4).cast("int").alias("ny"),
    )

    def rasterize_runs(batches):
        for pdf in batches:
            nks, iys, x0s, x1s = [], [], [], []
            for nk, wkb, ix0, iy0, nx, ny in zip(
                pdf["c_nationkey"], pdf["geom_wkb"], pdf["ix0"], pdf["iy0"],
                pdf["nx"], pdf["ny"],
            ):
                if wkb is None:
                    continue
                try:
                    polys = parse_wkb_polygons(bytes(wkb))
                except (ValueError, struct.error):
                    continue
                ix0, iy0, nx, ny = int(ix0), int(iy0), int(nx), int(ny)
                # same dyadic-exact centre formula as the oracles:
                # (integer cell id) · 2⁻⁴ + 2⁻⁵ — every step exact
                gx = (ix0 + np.arange(nx, dtype=np.int64)).astype(
                    np.float64
                ) * 0.0625 + 0.03125
                gy = (iy0 + np.arange(ny, dtype=np.int64)).astype(
                    np.float64
                ) * 0.0625 + 0.03125
                cx, cy = np.meshgrid(gx, gy)
                mask = points_in_polys(polys, cx.ravel(), cy.ravel()).reshape(
                    ny, nx
                )
                # run starts/ends per scan line via one diff over a
                # False-padded mask: +1 = run start col, -1 = one past end
                padded = np.zeros((ny, nx + 2), dtype=np.int8)
                padded[:, 1:-1] = mask
                d = np.diff(padded, axis=1)
                rs, cs = np.nonzero(d == 1)
                _, ce = np.nonzero(d == -1)
                # starts and ends pair up in order within each row
                nks.append(np.full(len(rs), nk, dtype=np.int64))
                iys.append(iy0 + rs.astype(np.int64))
                x0s.append(ix0 + cs.astype(np.int64))
                x1s.append(ix0 + ce.astype(np.int64) - 1)
            if nks:
                yield pd.DataFrame(
                    {
                        "c_nationkey": np.concatenate(nks),
                        "iy": np.concatenate(iys),
                        "x0": np.concatenate(x0s),
                        "x1": np.concatenate(x1s),
                    }
                )

    return enriched.mapInPandas(
        rasterize_runs, "c_nationkey long, iy long, x0 long, x1 long"
    )


def _area_result(runs: DataFrame, nation: DataFrame, area_alias: str) -> DataFrame:
    """The area tail: per nation name, the covered cell count
    Σ(x1 − x0 + 1) over MAXIMAL runs (no two overlap, so the sum counts
    each cell once) and its area, count × 2⁻⁸ — one exact dyadic
    multiply of an exact integer."""
    n_cells = F.sum(F.col("x1") - F.col("x0") + 1)
    return (
        runs.join(F.broadcast(nation), runs["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            n_cells.cast("long").alias("n_cells"),
            (n_cells.cast("double") * F.lit(0.00390625)).alias(area_alias),
        )
    )


# The oracle's closed-form rasterize of the lattice store: `occ` holds
# each nation's DISTINCT occupied cell ids (ix, iy)
_OCC_SQL = f"""
    WITH p AS ({_GEO_PARAM_SQL}),
    g AS (
      SELECT k, c_nationkey, x0, y0, w, h,
             (k % 40) * 24 - 2000 AS ix0,
             384 + (k % 16) * 20 AS iy0,
             16 + (k % 7) * 4 AS nx,
             16 + (k % 5) * 4 AS ny
      FROM p),
    ii AS (SELECT unnest(range(0, 40)) AS i),
    jj AS (SELECT unnest(range(0, 32)) AS j),
    cells AS (
      SELECT g.c_nationkey,
             g.ix0 + ii.i AS ix, g.iy0 + jj.j AS iy,
             g.x0 + (ii.i + 0.5) * 0.0625 AS cx,
             g.y0 + (jj.j + 0.5) * 0.0625 AS cy,
             g.k, g.x0, g.y0, g.w, g.h
      FROM g CROSS JOIN ii CROSS JOIN jj
      WHERE ii.i < g.nx AND jj.j < g.ny),
    occ AS (
      SELECT DISTINCT c_nationkey, ix, iy
      FROM cells
      WHERE CASE WHEN k % 2 = 1
            THEN NOT (cx > x0 + w * 0.5 AND cy > y0 + h * 0.5)
            ELSE NOT (cx > x0 + w * 0.25 AND cx < x0 + w * 0.75
                  AND cy > y0 + h * 0.25 AND cy < y0 + h * 0.75) END)"""

# `occ` dilated by the ±4-cell square (x, then y): the cells of `dxy`
_DILATE_SQL = """,
    dd AS (SELECT unnest(range(-4, 5)) AS d),
    dx AS (
      SELECT DISTINCT c_nationkey, ix + dd.d AS ix, iy
      FROM occ CROSS JOIN dd),
    dxy AS (
      SELECT DISTINCT c_nationkey, ix, iy + dd.d AS iy
      FROM dx CROSS JOIN dd)"""

_RINGS_TAIL_SQL = """
    SELECT n.n_name AS n_name,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(*) AS DOUBLE) * 0.00390625 AS {area_alias},
           CAST(MIN(ix) AS DOUBLE) * 0.0625 AS x_min,
           CAST(MIN(iy) AS DOUBLE) * 0.0625 AS y_min,
           CAST(MAX(ix) + 1 AS DOUBLE) * 0.0625 AS x_max,
           CAST(MAX(iy) + 1 AS DOUBLE) * 0.0625 AS y_max
    FROM {src} JOIN nation n ON {src}.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@query(
    "spatial_union_area",
    _OCC_SQL
    + """
    SELECT n.n_name AS n_name, CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(*) AS DOUBLE) * 0.00390625 AS union_area
    FROM occ JOIN nation n ON occ.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def spatial_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Union + ST_Area — the OVERLAP-DEDUPLICATED dissolve the extent/
    area entries deliberately don't attempt: `spatial_dissolve_extent`
    SUMS per-polygon areas (overlaps double-count), this entry measures
    the area each nation's polygons actually COVER. PostGIS does it with
    a sweep-line union; the Spark-first equivalent for lattice-aligned
    geometries is exact cell decomposition: every polygon edge in the
    store lies on the 1/16° lattice, so a polygon is exactly a set of
    1/16°×1/16° cells, union = the set union of those cells, and area =
    cell count × 2⁻⁸. That turns a geometry problem into the engine's
    bread and butter, with no geometry ever compared against another.

    Plan: the raster-run pipeline of operators/dissolve.py. The one
    rasterize pass (`_occupied_runs`) emits per-scan-line runs; rows ∝
    polygon boundary, not covered area (a cell-row form pushed ~180 M
    occupied-cell rows through a DISTINCT shuffle at the 20× point,
    SCALING run 11). `merge_runs` unions overlapping runs per
    (nation, scan line), and the covered cell count is Σ(x1 − x0 + 1)
    over the maximal runs. The oracle instead decides membership from
    the closed-form shape predicates and counts DISTINCT cells; the two
    agree on EVERY cell because centers sit on odd 1/32° multiples and
    every edge on even 1/32° multiples (the same data-independent
    lattice-disjointness argument tests/test_geo_analytics.py enumerates
    for the points entry): no decision is ever within 1/32° of a
    boundary. Cell ids stay INTEGER end-to-end, so the merge is exact,
    and the final area is count × 2⁻⁸ — one exact dyadic multiply. At
    100 TB: rows are boundary-proportional at every stage, the merge
    keys on (nation, scan line) — thousands of partitionable keys,
    skew-bounded by the longest scan line; finer lattices trade row count
    for resolution exactly like raster zonal statistics (which is what
    this IS).
    """
    runs = merge_runs(_occupied_runs(spark, sf_dir))
    return _area_result(runs, load_table(spark, sf_dir, "nation"), "union_area")


@query(
    "spatial_buffer_union_area",
    _OCC_SQL
    + _DILATE_SQL
    + """
    SELECT n.n_name AS n_name, CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(*) AS DOUBLE) * 0.00390625 AS buffer_area
    FROM dxy JOIN nation n ON dxy.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def spatial_buffer_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Buffer-lite + ST_Union + ST_Area (VERDICT r9 #4c): the area
    each nation's polygons cover after a 0.25° SQUARE (L∞ / Minkowski-
    with-square) buffer — the dilation a coverage/service-area analysis
    runs before a union. Euclidean-disc ST_Buffer endcaps are circular
    arcs (non-dyadic, not oracle-exact); the square buffer is the
    buffer-LITE form whose result stays exactly lattice-aligned, which
    is what makes it expressible at all without PostGIS.

    EXACTNESS: every store polygon is exactly the union of its 1/16°
    cells (edges on the even-1/32° lattice), and the Minkowski sum of a
    cell union with a centered square of radius R·cellsize (R = 4 cells
    = 0.25°) is exactly the union of every cell shifted by (di, dj) ∈
    [-R, R]² — so geometric buffering degenerates to integer-cell-id
    MORPHOLOGICAL DILATION of the rasterized occupancy set, with no new
    boundary decisions anywhere (the lattice-disjointness argument of
    `spatial_union_area` covers the rasterize; the dilation is pure
    int64 arithmetic).

    Plan — SCAN-LINE RUNS end-to-end, never a cell row (explode(±R) +
    DISTINCT twice over cells moves 9·+81· the occupied-cell count
    through hash shuffles — 16-24 s at sf0.1):

    1. `_occupied_runs` rasterizes straight to per-scan-line runs
       (nation, iy, x0, x1) — rows ∝ polygon BOUNDARY length, not area;
       overlapping polygons just emit overlapping runs (no DISTINCT);
    2. `dilate_runs` dilates the runs (x on the run ends, one merge,
       y as a ±R explode of the merged SEGMENTS — the square element's
       separability — one more merge), returning maximal runs;
    3. the area tail sums exact integer lengths — Σ(x1 − x0 + 1) of the
       maximal runs IS the dilated cell count.

    Both merge passes are one window + one aggregate on the (nation, iy)
    key — partial-combined, skew-bounded by the longest scan line; at
    100 TB the shuffled bytes are boundary-proportional at EVERY stage,
    which is the whole point of run-length morphology."""
    runs = dilate_runs(_occupied_runs(spark, sf_dir))
    return _area_result(runs, load_table(spark, sf_dir, "nation"), "buffer_area")


@query(
    "spatial_buffer_rings",
    _OCC_SQL
    + _DILATE_SQL
    + _RINGS_TAIL_SQL.format(area_alias="buffer_area", src="dxy")
    + "    ",
)
def spatial_buffer_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Buffer returning GEOMETRY — the buffered union's actual
    dissolved boundary, completing the buffer-lite contract
    (`spatial_buffer_union_area` proves the dilated AREA; this emits the
    dilated MULTIPOLYGON per nation, PostGIS's actual ST_Buffer return
    shape). Pipeline: scan-line runs → x-dilation (run-endpoint
    arithmetic, free) → engine-side (nation, iy) interval merge →
    y-dilation (±R explode over merged SEGMENTS — the separable square
    element on runs, never cells) → merge again → the same
    `union_rings_by_key` ring reconstruction as `spatial_union_rings`,
    with the identical grading proof: the driver-compared n_cells/extent
    derive from the reconstructed rings' integer shoelace while the
    oracle dilates DISTINCT cell ids in closed form. Buffered regions
    merge aggressively (0.25° square reach), so this also grades the
    chaining on FATTER, more-connected regions than the raw union —
    fewer polygons, longer rings, more hole-closures.

    Plan: identical stage structure to the buffer-area entry (boundary-
    proportional bytes at every merge) plus the dissolve-key Exchange;
    the 100 TB notes of both parents apply unchanged."""
    runs = dilate_runs(_occupied_runs(spark, sf_dir))
    return _rings_result(runs, load_table(spark, sf_dir, "nation"), "buffer_area")


@query(
    "spatial_union_rings",
    _OCC_SQL
    + _RINGS_TAIL_SQL.format(area_alias="union_area", src="occ")
    + "    ",
)
def spatial_union_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Union returning GEOMETRY — the catalog's first geometry-
    PRODUCING operator (closes the r10 verdict's What's-missing #6):
    per nation, the dissolved union's actual rectilinear boundary is
    reconstructed from the scan-line runs — outer rings CCW, holes CW —
    and emitted as WKB MULTIPOLYGON (operators/dissolve.py; reference
    parity: PostGIS ST_Union returns geometry, the reference's backend
    delegates every union to it).

    GRADING IS THE PROOF: the driver-compared columns are all derived
    FROM THE RECONSTRUCTED RINGS — n_cells is the rings' integer
    shoelace sum (outer positive, holes negative), the extent is the
    ring-vertex min/max — while the oracle recomputes both from the
    closed-form DISTINCT-cell decomposition that never builds a ring.
    A lost hole, duplicated edge, or mis-chained ring changes the
    shoelace and fails the hash; ring/vertex counts and the WKB's
    even-odd membership (bit-identical to the input cell set on 300
    random cell sets) are pinned in tests/test_r11_catalog.py and the
    dissolve fixtures. All arithmetic is exact: integer cells end-to-end,
    then one dyadic multiply per output (2⁻⁸ area, 2⁻⁴ coordinates).

    Plan: rasterize to runs (one mapInPandas pass, rows ∝ boundary) →
    engine-side interval PRE-MERGE per (nation, scan-line) — thousands
    of partitionable keys, so the merge parallelizes where the dissolve
    key (25 nations) cannot — → Exchange on the dissolve key (groupBy
    nation applyInPandas) now carrying only the UNION's runs, not every
    polygon's → 25-row broadcast nation join. Measured at the 20×
    rehearsal (SCALING run 13): without the pre-merge the dissolve-key
    shuffle moved all ~9 M overlapping raw runs into 25 reducers. A key
    whose single output geometry exceeds task memory needs hierarchical
    tile-dissolve + seam stitching — the documented floor, since the
    output geometry itself is the irreducible size."""
    runs = merge_runs(_occupied_runs(spark, sf_dir))
    return _rings_result(runs, load_table(spark, sf_dir, "nation"), "union_area")


# --------------------------------------------------------------------------
# ST_Union on GENERAL (non-lattice) polygons: grid-snap at a declared
# tolerance; ST_Intersection / ST_Difference geometry (boolean sweep)
# --------------------------------------------------------------------------


def _rings_result(runs: DataFrame, nation: DataFrame, area_alias: str) -> DataFrame:
    """The rings tail: each nation's dissolved MULTIPOLYGON from its
    MAXIMAL runs (`union_rings_by_key`) and the scorecard the oracle
    grades. Every graded column derives from the RECONSTRUCTED rings
    (shoelace cell count, vertex extent) — the proof contract of
    `spatial_union_rings`."""
    geo = union_rings_by_key(runs)
    return geo.join(
        F.broadcast(nation), geo["c_nationkey"] == nation["n_nationkey"]
    ).select(
        "n_name",
        F.col("n_cells").cast("long").alias("n_cells"),
        (F.col("n_cells").cast("double") * F.lit(0.00390625)).alias(area_alias),
        (F.col("min_vx").cast("double") * F.lit(0.0625)).alias("x_min"),
        (F.col("min_vy").cast("double") * F.lit(0.0625)).alias("y_min"),
        (F.col("max_vx").cast("double") * F.lit(0.0625)).alias("x_max"),
        (F.col("max_vy").cast("double") * F.lit(0.0625)).alias("y_max"),
    )


def _boolean_rings(
    spark: SparkSession,
    sf_dir: str,
    mode: str,
    area_alias: str,
    jitter: bool = False,
) -> DataFrame:
    """The four boolean entries: the rings of `boolean_runs` ``mode``
    over the two parity layers of the lattice store, or with ``jitter``
    of the snap store."""
    runs = boolean_runs(_occupied_runs(spark, sf_dir, jitter, tagged=True), mode)
    return _rings_result(runs, load_table(spark, sf_dir, "nation"), area_alias)


_BOOL_OCC_SQL = f"""
    WITH p AS ({_GEO_PARAM_SQL}),
    g AS (
      SELECT k, c_nationkey, x0, y0, w, h,
             (k % 40) * 24 - 2000 AS ix0,
             384 + (k % 16) * 20 AS iy0,
             16 + (k % 7) * 4 AS nx,
             16 + (k % 5) * 4 AS ny
      FROM p),
    ii AS (SELECT unnest(range(0, 40)) AS i),
    jj AS (SELECT unnest(range(0, 32)) AS j),
    cells AS (
      SELECT g.c_nationkey, g.k % 2 AS par,
             g.ix0 + ii.i AS ix, g.iy0 + jj.j AS iy,
             g.x0 + (ii.i + 0.5) * 0.0625 AS cx,
             g.y0 + (jj.j + 0.5) * 0.0625 AS cy,
             g.k, g.x0, g.y0, g.w, g.h
      FROM g CROSS JOIN ii CROSS JOIN jj
      WHERE ii.i < g.nx AND jj.j < g.ny),
    occ AS (
      SELECT DISTINCT c_nationkey, par, ix, iy
      FROM cells
      WHERE CASE WHEN k % 2 = 1
            THEN NOT (cx > x0 + w * 0.5 AND cy > y0 + h * 0.5)
            ELSE NOT (cx > x0 + w * 0.25 AND cx < x0 + w * 0.75
                  AND cy > y0 + h * 0.25 AND cy < y0 + h * 0.75) END)
"""


@query(
    "spatial_intersection_rings",
    _BOOL_OCC_SQL
    + """,
    ab AS (
      SELECT c_nationkey, ix, iy FROM occ WHERE par = 1
      INTERSECT
      SELECT c_nationkey, ix, iy FROM occ WHERE par = 0)
"""
    + _RINGS_TAIL_SQL.format(area_alias="inter_area", src="ab"),
)
def spatial_intersection_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersection returning GEOMETRY — with `spatial_difference_rings`
    this completes the boolean-op family the reference inherits from
    PostGIS (union r11, buffer r11, intersection/difference here). Layer
    A = the store's odd-key L-shapes, layer B = its even-key donuts; per
    nation the entry emits the dissolved A∩B boundary as WKB MULTIPOLYGON
    and grades the ring-derived scorecard (shoelace n_cells, vertex
    extent) against the oracle's closed-form DISTINCT-cell INTERSECT —
    the `spatial_union_rings` proof contract on a much more FRAGMENTED
    region (intersections of offset shapes shatter into many small
    polygons, stressing chaining/hole assignment harder than the union).

    Mechanism: `operators/dissolve.boolean_runs` — a two-counter boundary
    sweep per (nation, scan-line): each run raises its layer's coverage
    counter at x0 and lowers it at x1+1; a segment is active iff
    cA>0 ∧ cB>0. The sweep is one aggregate + one (key, iy) window, so
    it parallelizes over scan lines exactly like `merge_runs` — the
    dissolve-key Exchange still sees only the RESULT's runs. Both layers
    come from ONE rasterize pass (`_occupied_runs(..., tagged=True)` —
    the layer tag rides the run key, so the store's WKB parses once per
    polygon). Nations whose intersection is empty emit no row on either
    engine."""
    return _boolean_rings(spark, sf_dir, "intersection", "inter_area")


@query(
    "spatial_difference_rings",
    _BOOL_OCC_SQL
    + """,
    ab AS (
      SELECT c_nationkey, ix, iy FROM occ WHERE par = 1
      EXCEPT
      SELECT c_nationkey, ix, iy FROM occ WHERE par = 0)
"""
    + _RINGS_TAIL_SQL.format(area_alias="diff_area", src="ab"),
)
def spatial_difference_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Difference returning GEOMETRY — A \\ B on the same two layers as
    `spatial_intersection_rings` (odd-key L-shapes minus even-key
    donuts), same boolean sweep with the cA>0 ∧ cB=0 predicate, same
    ring-derived grading. Difference regions are the adversarial case
    for hole topology: subtracting a donut that sits strictly inside an
    L-shape punches a NEW hole (plus its island where the donut's own
    hole re-exposes A), so this entry exercises the hole-assignment and
    figure-eight-repair paths on shapes the union never produces."""
    return _boolean_rings(spark, sf_dir, "difference", "diff_area")


@query(
    "spatial_symdiff_rings",
    _BOOL_OCC_SQL
    + """,
    ab AS (
      SELECT c_nationkey, ix, iy
      FROM occ GROUP BY c_nationkey, ix, iy
      HAVING COUNT(DISTINCT par) = 1)
"""
    + _RINGS_TAIL_SQL.format(area_alias="symdiff_area", src="ab"),
)
def spatial_symdiff_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_SymDifference returning GEOMETRY — the fourth and last boolean
    predicate (exactly one layer covered), completing the sweep family's
    grading. Symmetric difference is the most FRAGMENTED output the two
    layers can produce (every overlap region becomes a hole in the
    surrounding union material), so ring counts per nation exceed both
    parents'. The oracle deliberately takes a THIRD formulation — GROUP
    BY cell HAVING COUNT(DISTINCT par) = 1, vs the INTERSECT / EXCEPT set
    ops of the siblings — so the three entries triangulate the sweep
    against independent SQL semantics. Same single tagged rasterize."""
    return _boolean_rings(spark, sf_dir, "symdiff", "symdiff_area")


@query(
    "spatial_union_snap_rings",
    """
    WITH p AS (
      SELECT c_custkey AS k, c_nationkey,
             CAST(-125.0 + (c_custkey % 40) * 1.5
                  + (1 + (c_custkey % 8) * 2) * 0.015625 AS DOUBLE) AS x0,
             CAST(24.0 + (c_custkey % 16) * 1.25
                  + (3 + (c_custkey % 7) * 2) * 0.015625 AS DOUBLE) AS y0,
             CAST(1.0 + (c_custkey % 7) * 0.25 AS DOUBLE) AS w,
             CAST(1.0 + (c_custkey % 5) * 0.25 AS DOUBLE) AS h
      FROM customer),
    g AS (
      SELECT k, c_nationkey, x0, y0, w, h,
             (k % 40) * 24 - 2000 AS ix0,
             384 + (k % 16) * 20 AS iy0,
             20 + (k % 7) * 4 AS nx,
             20 + (k % 5) * 4 AS ny
      FROM p),
    ii AS (SELECT unnest(range(0, 44)) AS i),
    jj AS (SELECT unnest(range(0, 36)) AS j),
    cells AS (
      SELECT g.c_nationkey,
             g.ix0 + ii.i AS ix, g.iy0 + jj.j AS iy,
             CAST((g.ix0 + ii.i) * 0.0625 + 0.03125 AS DOUBLE) AS cx,
             CAST((g.iy0 + jj.j) * 0.0625 + 0.03125 AS DOUBLE) AS cy,
             g.k, g.x0, g.y0, g.w, g.h
      FROM g CROSS JOIN ii CROSS JOIN jj
      WHERE ii.i < g.nx AND jj.j < g.ny),
    occ AS (
      SELECT DISTINCT c_nationkey, ix, iy
      FROM cells
      WHERE cx > x0 AND cx < x0 + w AND cy > y0 AND cy < y0 + h
        AND CASE WHEN k % 2 = 1
            THEN NOT (cx > x0 + w * 0.5 AND cy > y0 + h * 0.5)
            ELSE NOT (cx > x0 + w * 0.25 AND cx < x0 + w * 0.75
                  AND cy > y0 + h * 0.25 AND cy < y0 + h * 0.75) END)"""
    + _RINGS_TAIL_SQL.format(area_alias="union_area", src="occ")
    + "    ",
)
def spatial_union_snap_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Union on GENERAL (non-lattice) polygons via grid-snap at the
    declared 1/16° tolerance — the documented seam of r11's What's-missing
    #1 made a graded entry: PostGIS unions arbitrary polygons
    (reference load_data.py:79 declares geometry(Polygon,4326) with no
    lattice restriction); here the inputs are L-shapes/donuts whose every
    vertex is JITTERED OFF the cell lattice (x0 += (1+2(k%8))/64,
    y0 += (3+2(k%7))/64 — odd 1/64-multiples, so NO vertex or edge lies
    on a cell boundary or center line), fed through the SAME exact
    rasterize front (real WKB parse + even-odd ray cast per cell center)
    into the ring reconstruction.

    Snap-exactness argument (same class as the store's lattice proof,
    shifted a level down): cell centers live on (4m+2)/64 in both axes;
    jittered edges live on odd/64 (lattice base even/64 + odd jitter;
    w·{¼,½,¾} are 4/64-multiples) — the lattices are disjoint with
    margin ≥ 1/64, every coordinate is a ≤6-fraction-bit dyadic double,
    so each engine's in/out decision is EXACT and identical: Spark's
    ray cast over the parsed WKB and the oracle's closed-form CASE
    agree cell-for-cell. The rasterize window widens by 4 cells
    (jitter < 16/64 = one window step) — a superset window only adds
    point tests, never cells.

    Plan: identical to `spatial_union_rings` (rasterize → engine
    pre-merge → ONE dissolve-key Exchange → 25-row broadcast) except the
    jittered store builds inline (`_shape_store`, no cache — only the two
    snap entries read it), spread by `session.spread` before the WKB UDF
    so the encode and the rasterize parallelize. At 100 TB the snap
    tolerance is the declared contract: finer lattices trade rasterize
    rows for fidelity; the runs stay boundary-proportional at any cell
    size."""
    runs = merge_runs(_occupied_runs(spark, sf_dir, jitter=True))
    return _rings_result(runs, load_table(spark, sf_dir, "nation"), "union_area")


# --------------------------------------------------------------------------
# ST_Simplify (epsilon = 0): collinear-vertex elimination
# --------------------------------------------------------------------------


@query(
    "spatial_simplify_collinear",
    """
    WITH s AS (SELECT s_suppkey AS k FROM supplier),
    steps AS (
      SELECT k, 8 + (k % 5) * 3 AS n_steps FROM s),
    idx AS (
      SELECT k, n_steps, unnest(range(0, n_steps + 1)) AS i FROM steps),
    stepv AS (
      SELECT k, n_steps, i,
             CASE WHEN i = 0 THEN 0
                  ELSE (k + (i - 1) // 3) % 4 END AS dc,
             CASE WHEN i = 0 THEN 0 ELSE 1 + (i % 2) END AS ln
      FROM idx),
    dirs AS (
      SELECT k, n_steps, i,
             CASE WHEN i = 0 THEN 0
                  WHEN dc = 0 THEN 1 WHEN dc = 1 THEN 0
                  WHEN dc = 2 THEN -1 ELSE 1 END * ln AS sdx,
             CASE WHEN i = 0 THEN 0
                  WHEN dc = 0 THEN 0 WHEN dc = 1 THEN 1
                  WHEN dc = 2 THEN 1 ELSE -1 END * ln AS sdy
      FROM stepv),
    verts AS (
      SELECT k, n_steps, i,
             (k % 100) + SUM(sdx) OVER w AS x,
             ((k * 3) % 100) + SUM(sdy) OVER w AS y
      FROM dirs
      WINDOW w AS (PARTITION BY k ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    marked AS (
      SELECT k, n_steps, i, x, y,
             LAG(x) OVER w AS xp, LAG(y) OVER w AS yp,
             LEAD(x) OVER w AS xn, LEAD(y) OVER w AS yn
      FROM verts
      WINDOW w AS (PARTITION BY k ORDER BY i)),
    kept AS (
      SELECT k, n_steps, i, x, y,
             CASE WHEN i = 0 OR i = n_steps THEN 1
                  WHEN (x - xp) * (yn - y) - (y - yp) * (xn - x) <> 0 THEN 1
                  WHEN (x - xp) * (xn - x) + (y - yp) * (yn - y) < 0 THEN 1
                  ELSE 0 END AS keep
      FROM marked)
    SELECT k AS s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep = 1 THEN x * 31 + y ELSE 0 END) AS BIGINT)
             AS kept_checksum
    FROM kept
    GROUP BY k
    """,
)
def spatial_simplify_collinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Simplify with tolerance 0 — collinear-vertex elimination, the
    one simplification whose output is EXACT (no Douglas-Peucker distance
    threshold, hence no libm): an interior vertex is redundant iff the
    incoming and outgoing segments are parallel (integer cross product
    = 0) AND co-directed (integer dot product > 0). The dot-product guard
    is the correctness subtlety ST_Simplify implementations must get
    right: a SPIKE (path reversing 180°) also has cross = 0, but removing
    its apex rewrites the geometry — the constructed polylines hit the
    antiparallel case whenever direction codes 2→3 are adjacent, so the
    guard is exercised, not decorative (tests/test_geo_analytics.py pins
    a hand-built spike).

    Polylines are key-derived on the integer lattice (runs of 3 steps
    share a direction, step lengths alternate 1/2 — so collinear runs
    with UNEQUAL segment lengths are removed, proving the predicate is
    geometric, not step-equality). `kept_checksum` sums x·31+y over the
    KEPT vertices: the oracle must agree on WHICH vertices survive, not
    merely how many. All arithmetic is int64.

    Plan: one Exchange on the geometry key feeds both the prefix-sum
    window (vertex positions) and the lag/lead window (neighbor testing)
    — Spark plans them in a single sort pass per key. At 100 TB the work
    is boundary-proportional (rows = vertices), skew-bounded by the
    longest single geometry, the same contract as `_occupied_runs`.
    """
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("k")
    )
    n_steps = (F.lit(8) + F.pmod(F.col("k"), F.lit(5)) * F.lit(3)).alias(
        "n_steps"
    )
    idx = s.select("k", n_steps).select(
        "k",
        "n_steps",
        F.explode(F.sequence(F.lit(0), F.col("n_steps"))).alias("i"),
    )
    i = F.col("i")
    dc = F.when(i == 0, F.lit(0)).otherwise(
        F.pmod(F.col("k") + ((i - 1) - F.pmod(i - 1, F.lit(3))) / F.lit(3), F.lit(4))
    )
    ln = F.when(i == 0, F.lit(0)).otherwise(F.lit(1) + F.pmod(i, F.lit(2)))
    ux = (
        F.when(F.col("__dc") == 0, F.lit(1))
        .when(F.col("__dc") == 1, F.lit(0))
        .when(F.col("__dc") == 2, F.lit(-1))
        .otherwise(F.lit(1))
    )
    uy = (
        F.when(F.col("__dc") == 0, F.lit(0))
        .when(F.col("__dc") == 1, F.lit(1))
        .when(F.col("__dc") == 2, F.lit(1))
        .otherwise(F.lit(-1))
    )
    stepped = idx.select(
        "k",
        "n_steps",
        "i",
        dc.cast("long").alias("__dc"),
        ln.cast("long").alias("__ln"),
    ).select(
        "k",
        "n_steps",
        "i",
        (F.when(i == 0, F.lit(0)).otherwise(ux) * F.col("__ln")).alias("sdx"),
        (F.when(i == 0, F.lit(0)).otherwise(uy) * F.col("__ln")).alias("sdy"),
    )
    wcum = (
        Window.partitionBy("k")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    verts = stepped.select(
        "k",
        "n_steps",
        "i",
        (F.pmod(F.col("k"), F.lit(100)) + F.sum("sdx").over(wcum)).alias("x"),
        (F.pmod(F.col("k") * 3, F.lit(100)) + F.sum("sdy").over(wcum)).alias("y"),
    )
    wn = Window.partitionBy("k").orderBy("i")
    m = verts.select(
        "k",
        "n_steps",
        "i",
        "x",
        "y",
        F.lag("x").over(wn).alias("xp"),
        F.lag("y").over(wn).alias("yp"),
        F.lead("x").over(wn).alias("xn"),
        F.lead("y").over(wn).alias("yn"),
    )
    cross = (F.col("x") - F.col("xp")) * (F.col("yn") - F.col("y")) - (
        F.col("y") - F.col("yp")
    ) * (F.col("xn") - F.col("x"))
    dot = (F.col("x") - F.col("xp")) * (F.col("xn") - F.col("x")) + (
        F.col("y") - F.col("yp")
    ) * (F.col("yn") - F.col("y"))
    keep = (
        F.when((i == 0) | (i == F.col("n_steps")), F.lit(1))
        .when(cross != 0, F.lit(1))
        .when(dot < 0, F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        m.withColumn("keep", keep)
        .groupBy(F.col("k").alias("s_suppkey"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("keep").alias("n_kept"),
            F.sum(
                F.when(F.col("keep") == 1, F.col("x") * 31 + F.col("y")).otherwise(
                    F.lit(0)
                )
            ).alias("kept_checksum"),
        )
    )


_SNAP_PAR_OCC_SQL = """
    WITH p AS (
      SELECT c_custkey AS k, c_nationkey,
             CAST(-125.0 + (c_custkey % 40) * 1.5
                  + (1 + (c_custkey % 8) * 2) * 0.015625 AS DOUBLE) AS x0,
             CAST(24.0 + (c_custkey % 16) * 1.25
                  + (3 + (c_custkey % 7) * 2) * 0.015625 AS DOUBLE) AS y0,
             CAST(1.0 + (c_custkey % 7) * 0.25 AS DOUBLE) AS w,
             CAST(1.0 + (c_custkey % 5) * 0.25 AS DOUBLE) AS h
      FROM customer),
    g AS (
      SELECT k, c_nationkey, x0, y0, w, h,
             (k % 40) * 24 - 2000 AS ix0,
             384 + (k % 16) * 20 AS iy0,
             20 + (k % 7) * 4 AS nx,
             20 + (k % 5) * 4 AS ny
      FROM p),
    ii AS (SELECT unnest(range(0, 44)) AS i),
    jj AS (SELECT unnest(range(0, 36)) AS j),
    cells AS (
      SELECT g.c_nationkey, g.k % 2 AS par,
             g.ix0 + ii.i AS ix, g.iy0 + jj.j AS iy,
             CAST((g.ix0 + ii.i) * 0.0625 + 0.03125 AS DOUBLE) AS cx,
             CAST((g.iy0 + jj.j) * 0.0625 + 0.03125 AS DOUBLE) AS cy,
             g.k, g.x0, g.y0, g.w, g.h
      FROM g CROSS JOIN ii CROSS JOIN jj
      WHERE ii.i < g.nx AND jj.j < g.ny),
    occ AS (
      SELECT DISTINCT c_nationkey, par, ix, iy
      FROM cells
      WHERE cx > x0 AND cx < x0 + w AND cy > y0 AND cy < y0 + h
        AND CASE WHEN k % 2 = 1
            THEN NOT (cx > x0 + w * 0.5 AND cy > y0 + h * 0.5)
            ELSE NOT (cx > x0 + w * 0.25 AND cx < x0 + w * 0.75
                  AND cy > y0 + h * 0.25 AND cy < y0 + h * 0.75) END)
"""


@query(
    "spatial_intersection_snap_rings",
    _SNAP_PAR_OCC_SQL
    + """,
    ab AS (
      SELECT c_nationkey, ix, iy FROM occ WHERE par = 1
      INTERSECT
      SELECT c_nationkey, ix, iy FROM occ WHERE par = 0)
"""
    + _RINGS_TAIL_SQL.format(area_alias="inter_area", src="ab"),
)
def spatial_intersection_snap_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersection GEOMETRY on GENERAL (non-lattice) polygons — the
    boolean half of the snap seam, completing what
    `spatial_union_snap_rings` opened: PostGIS users intersect arbitrary
    polygon layers (reference load_data.py:79's geometry(Polygon,4326)
    carries no lattice restriction), and until now the repo's
    intersection GEOMETRY was lattice-only. Inputs are the SAME jittered
    L-shapes/donuts (every vertex an odd-1/64 multiple, provably off
    every cell boundary and center line — the snap-union entry's
    disjointness proof carries over verbatim), split into parity layers
    (odd keys = A, even = B) and rasterized ONCE with the layer tag
    encoded in the run key; the two-counter boundary sweep
    (`boolean_runs`) and leftmost-turn ring reconstruction are the
    lattice entries' operators UNCHANGED — the snap front composes, it
    does not fork the geometry stack.

    The graded scorecard derives from the RECONSTRUCTED rings' integer
    shoelace (cell count, vertex extent) while the oracle counts DISTINCT
    intersected cells closed-form — any sweep or chaining error on the
    jittered fronts fails the hash. Scale shape: identical to
    `spatial_intersection_rings` (events ∝ runs ∝ boundary; the sweep
    parallelizes over (key, scan-line); ONE dissolve-key Exchange carries
    only the result's runs) plus the inline jittered store build, the
    honest uncached cost of general-polygon input."""
    return _boolean_rings(spark, sf_dir, "intersection", "inter_area", jitter=True)


# ---------------------------------------------------------------------------
# Snap-free exact convex clipping (VERDICT r12 #5)
# ---------------------------------------------------------------------------


def _octagon_mats(x, y, r):
    """(n, 8) CCW vertex matrices of the convex store's octagons: the
    square [x ± r] × [y ± r] with its corners cut by 4."""
    rx = np.array([-1, 1, 1, 1, 1, -1, -1, -1], dtype=np.int64)
    kx = np.array([4, -4, 0, 0, -4, 4, 0, 0], dtype=np.int64)
    ry = np.array([-1, -1, -1, 1, 1, 1, 1, -1], dtype=np.int64)
    ky = np.array([0, 0, 4, -4, 0, 0, -4, 4], dtype=np.int64)
    return x[:, None] + r[:, None] * rx + kx, y[:, None] + r[:, None] * ry + ky


def _diamond_mats(x, y, s):
    """(n, 4) CCW vertex matrices of the diamonds centred at (x, y) with
    radius s."""
    sx = np.array([1, 0, -1, 0], dtype=np.int64)
    sy = np.array([0, 1, 0, -1], dtype=np.int64)
    return x[:, None] + s[:, None] * sx, y[:, None] + s[:, None] * sy


_OCTAGON = (("ax", "ay", "ar"), _octagon_mats)
_DIAMOND = (("bx", "by", "bs"), _diamond_mats)


def _bbox(x, y, r):
    """The ``xmin/ymin/xmax/ymax`` columns of the square [x ± r] × [y ± r]
    that the candidate join blocks on."""
    return [
        (x - r).cast("double").alias("xmin"),
        (y - r).cast("double").alias("ymin"),
        (x + r).cast("double").alias("xmax"),
        (y + r).cast("double").alias("ymax"),
    ]


def _diamond_side(c, mx, my):
    """The even-key diamonds ``(bkey, bx, by, bs)``: centre
    (4·(key mod mx) + 2, 4·(key mod my) + 2), radius 4·(key mod 3) + 1."""
    ck = F.col("c_custkey")
    x = (4 * (ck % mx) + 2).cast("long")
    y = (4 * (ck % my) + 2).cast("long")
    s = (4 * (ck % 3) + 1).cast("long")
    return c.where(ck % 2 == 0).select(
        ck.alias("bkey"), x.alias("bx"), y.alias("by"), s.alias("bs"),
        *_bbox(x, y, s),
    )


def _convex_store_sides(c):
    """The convex store: odd-key octagons ``(akey, ax, ay, ar)`` and the
    even-key diamonds, as scalar shape parameters."""
    ck = F.col("c_custkey")
    r = (8 + 4 * (F.expr("c_custkey DIV 2") % 2)).cast("long")
    x, y = (4 * (ck % 101)).cast("long"), (4 * (ck % 89)).cast("long")
    a = c.where(ck % 2 == 1).select(
        ck.alias("akey"), x.alias("ax"), y.alias("ay"), r.alias("ar"),
        *_bbox(x, y, r),
    )
    return a, _diamond_side(c, 97, 103)


_CLIP_SQL = """
    WITH a AS (
      SELECT c_custkey AS akey,
             4 * (c_custkey % 101) AS ax, 4 * (c_custkey % 89) AS ay,
             8 + 4 * ((c_custkey // 2) % 2) AS r
      FROM customer WHERE c_custkey % 2 = 1),
    b AS (
      SELECT c_custkey AS bkey,
             4 * (c_custkey % 97) + 2 AS bx, 4 * (c_custkey % 103) + 2 AS by2,
             4 * (c_custkey % 3) + 1 AS s
      FROM customer WHERE c_custkey % 2 = 0),
    av AS (
      SELECT akey,
        [struct_pack(x := ax-r+4, y := ay-r), struct_pack(x := ax+r-4, y := ay-r),
         struct_pack(x := ax+r, y := ay-r+4), struct_pack(x := ax+r, y := ay+r-4),
         struct_pack(x := ax+r-4, y := ay+r), struct_pack(x := ax-r+4, y := ay+r),
         struct_pack(x := ax-r, y := ay+r-4), struct_pack(x := ax-r, y := ay-r+4)] AS vs,
        ax-r AS xmin, ax+r AS xmax, ay-r AS ymin, ay+r AS ymax
      FROM a),
    bv AS (
      SELECT bkey,
        [struct_pack(x := bx+s, y := by2), struct_pack(x := bx, y := by2+s),
         struct_pack(x := bx-s, y := by2), struct_pack(x := bx, y := by2-s)] AS vs,
        bx-s AS xmin, bx+s AS xmax, by2-s AS ymin, by2+s AS ymax
      FROM b),
    pairs AS (
      SELECT av.akey, bv.bkey, av.vs AS pa, bv.vs AS pb
      FROM av JOIN bv ON av.xmin <= bv.xmax AND bv.xmin <= av.xmax
                     AND av.ymin <= bv.ymax AND bv.ymin <= av.ymax),
    sides AS (
      SELECT akey, bkey, pa AS sub, pb AS clp FROM pairs
      UNION ALL
      SELECT akey, bkey, pb, pa FROM pairs),
    edges AS (
      SELECT akey, bkey, clp,
             unnest(list_transform(generate_series(1, len(sub)),
                    i -> struct_pack(p1 := sub[i],
                                     p2 := sub[(i % len(sub)) + 1]))) AS e
      FROM sides),
    cons AS (
      SELECT akey, bkey, e,
             list_transform(generate_series(1, len(clp)), i ->
               struct_pack(
                 c0 := (clp[(i % len(clp)) + 1].x - clp[i].x) * (e.p1.y - clp[i].y)
                     - (clp[(i % len(clp)) + 1].y - clp[i].y) * (e.p1.x - clp[i].x),
                 c1 := (clp[(i % len(clp)) + 1].x - clp[i].x) * (e.p2.y - e.p1.y)
                     - (clp[(i % len(clp)) + 1].y - clp[i].y) * (e.p2.x - e.p1.x))
             ) AS cs
      FROM edges),
    iv AS (
      SELECT akey, bkey, e,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(1 AS BIGINT)],
                 list_transform(list_filter(cs, c -> c.c1 > 0),
                                c -> [-c.c0, c.c1])),
               (x, y) -> CASE WHEN x[1]*y[2] >= y[1]*x[2] THEN x ELSE y END) AS lb,
             list_reduce(
               list_prepend([CAST(1 AS BIGINT), CAST(1 AS BIGINT)],
                 list_transform(list_filter(cs, c -> c.c1 < 0),
                                c -> [c.c0, -c.c1])),
               (x, y) -> CASE WHEN x[1]*y[2] <= y[1]*x[2] THEN x ELSE y END) AS ub,
             len(list_filter(cs, c -> c.c1 = 0 AND c.c0 < 0)) > 0 AS emp
      FROM cons),
    pieces AS (
      SELECT akey, bkey,
             (2 * (e.p1.x * lb[2] + lb[1] * (e.p2.x - e.p1.x))) // lb[2] AS sx1,
             (2 * (e.p1.y * lb[2] + lb[1] * (e.p2.y - e.p1.y))) // lb[2] AS sy1,
             (2 * (e.p1.x * ub[2] + ub[1] * (e.p2.x - e.p1.x))) // ub[2] AS sx2,
             (2 * (e.p1.y * ub[2] + ub[1] * (e.p2.y - e.p1.y))) // ub[2] AS sy2
      FROM iv
      WHERE NOT emp AND lb[1] * ub[2] < ub[1] * lb[2])
    SELECT akey, bkey,
           CAST(COUNT(*) AS INTEGER) AS n_vertices,
           CAST(SUM(sx1 * sy2 - sy1 * sx2) * 1250 AS BIGINT) AS area_e4,
           CAST(CAST(SUM(sx1 * sy2 - sy1 * sx2) * 1250 AS BIGINT) AS DOUBLE)
             / 10000 AS area
    FROM pieces
    GROUP BY akey, bkey
    HAVING SUM(sx1 * sy2 - sy1 * sx2) > 0
"""


@query("spatial_clip_convex_pairs", _CLIP_SQL)
def spatial_clip_convex_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAP-FREE exact polygon intersection, first increment (VERDICT
    r12 #5): convex×convex vertex clipping with NO tolerance and NO
    grid — where the snap-seam entries rasterize general polygons at a
    declared 1/16° tolerance, this entry computes the true vertex-level
    clip, the PostGIS-`ST_Intersection`-on-parcels contract
    (reference load_data.py:79's geometry(Polygon,4326) implies exact
    overlay; this is the provable convex subset on the way to general
    Vatti).

    Stores: odd custkeys build octagons (axis-aligned square, 45°-cut
    corners) with ALL vertex coordinates ≡ 0 (mod 4); even custkeys
    build diamonds with centers ≡ 2 (mod 4) and radii ≡ 1 (mod 4). The
    congruences prove general position ALGEBRAICALLY for every key pair
    (no enumeration needed): A's support lines have constants ≡ 0
    (mod 4) in x, y, x+y, x−y while B's vertices and 45° support-line
    constants are all odd or ≡ 2 — so no collinear edge overlap and no
    vertex-on-edge anywhere, and every crossing of an A-line with a
    B-line lands on the half-integer lattice (exact dyadic,
    denominator | 8 | 10⁴ ⇒ area_e4 is exact, the established
    contract; tests/test_r13_catalog.py asserts the congruence sweep).

    Engine: `operators.overlay.overlay_pairs` — grid-blocked bbox
    equi-join (complete for overlap, never all-pairs), then the int64
    pair kernel once per candidate pair over octagon and diamond
    matrices rebuilt from three scalars per side, keeping pairs with
    positive area. The rational Sutherland–Hodgman `convex_clip` is the
    reference the kernel is test-pinned against. The oracle clips each
    edge to a parameter interval against the other polygon's
    half-planes in SQL (integer cross-multiplied fraction max/min,
    summing sub-segment cross products — 2·4·area in scaled ints). In
    general position boundary pieces biject with intersection-polygon
    vertices, so n_vertices grades the SHAPE, area_e4 the measure.

    100 TB shape: candidates are cell-blocked (bounded per-cell work,
    AQE-splittable on hot cells), the kernel is O(|A|·|B|) per pair on
    ≤8×4-vertex polygons, and nothing driver-side scales with the data.
    Store extent scales with the key moduli (101/89/97/103 — density,
    and with it the per-cell pair count, stays bounded as the corpus
    grows; a fixed-extent first cut measured 62k positive pairs at
    sf0.01, the density-quadratic regime this lattice avoids). Overflow
    audit: coords ≤ ~422, side values < 10⁵, cross-multiplied
    comparisons < 2·10⁹, scaled crosses < 2·10⁶, all << 2⁶³."""
    a, b = _convex_store_sides(load_table(spark, sf_dir, "customer"))
    return with_area(overlay_pairs(a, b, 32.0, _OCTAGON, _DIAMOND))


# ---------------------------------------------------------------------------
# Snap-free exact NON-convex clipping via convex decomposition (VERDICT r13 #2)
# ---------------------------------------------------------------------------

_CLIP_CONCAVE_SQL = """
    WITH a AS (
      SELECT c_custkey AS akey,
             4 * (c_custkey % 211) AS ax, 4 * (c_custkey % 179) AS ay,
             12 + 4 * ((c_custkey // 2) % 2) AS r,
             4 + 4 * ((c_custkey // 4) % 2) AS d,
             c_custkey % 4 AS sd
      FROM customer WHERE c_custkey % 2 = 1),
    b AS (
      SELECT c_custkey AS bkey,
             4 * (c_custkey % 193) + 2 AS bx, 4 * (c_custkey % 199) + 2 AS by2,
             4 * (c_custkey % 3) + 1 AS s
      FROM customer WHERE c_custkey % 2 = 0),
    av AS (
      SELECT akey, r, d,
        [struct_pack(x := ax-r+4, y := ay-r), struct_pack(x := ax+r-4, y := ay-r),
         struct_pack(x := ax+r, y := ay-r+4), struct_pack(x := ax+r, y := ay+r-4),
         struct_pack(x := ax+r-4, y := ay+r), struct_pack(x := ax-r+4, y := ay+r),
         struct_pack(x := ax-r, y := ay+r-4), struct_pack(x := ax-r, y := ay-r+4)] AS oct,
        CASE WHEN sd = 1 THEN
          [struct_pack(x := ax-4, y := ay-r), struct_pack(x := ax+4, y := ay-r),
           struct_pack(x := ax+4, y := ay-r+d), struct_pack(x := ax-4, y := ay-r+d)]
        ELSE
          [struct_pack(x := ax-r, y := ay-4), struct_pack(x := ax-r+d, y := ay-4),
           struct_pack(x := ax-r+d, y := ay+4), struct_pack(x := ax-r, y := ay+4)]
        END AS ntc,
        ax-r AS xmin, ax+r AS xmax, ay-r AS ymin, ay+r AS ymax
      FROM a),
    bv AS (
      SELECT bkey,
        [struct_pack(x := bx+s, y := by2), struct_pack(x := bx, y := by2+s),
         struct_pack(x := bx-s, y := by2), struct_pack(x := bx, y := by2-s)] AS dia,
        bx-s AS xmin, bx+s AS xmax, by2-s AS ymin, by2+s AS ymax
      FROM b),
    pairs AS (
      SELECT av.akey, bv.bkey, av.oct, av.ntc, bv.dia
      FROM av JOIN bv ON av.xmin <= bv.xmax AND bv.xmin <= av.xmax
                     AND av.ymin <= bv.ymax AND bv.ymin <= av.ymax),
    sides AS (
      SELECT akey, bkey, oct AS sub, dia AS clp, 1 AS sgn FROM pairs
      UNION ALL SELECT akey, bkey, dia, oct, 1 FROM pairs
      UNION ALL SELECT akey, bkey, ntc, dia, -1 FROM pairs
      UNION ALL SELECT akey, bkey, dia, ntc, -1 FROM pairs),
    edges AS (
      SELECT akey, bkey, sgn, clp,
             unnest(list_transform(generate_series(1, len(sub)),
                    i -> struct_pack(p1 := sub[i],
                                     p2 := sub[(i % len(sub)) + 1]))) AS e
      FROM sides),
    cons AS (
      SELECT akey, bkey, sgn, e,
             list_transform(generate_series(1, len(clp)), i ->
               struct_pack(
                 c0 := (clp[(i % len(clp)) + 1].x - clp[i].x) * (e.p1.y - clp[i].y)
                     - (clp[(i % len(clp)) + 1].y - clp[i].y) * (e.p1.x - clp[i].x),
                 c1 := (clp[(i % len(clp)) + 1].x - clp[i].x) * (e.p2.y - e.p1.y)
                     - (clp[(i % len(clp)) + 1].y - clp[i].y) * (e.p2.x - e.p1.x))
             ) AS cs
      FROM edges),
    iv AS (
      SELECT akey, bkey, sgn, e,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(1 AS BIGINT)],
                 list_transform(list_filter(cs, c -> c.c1 > 0),
                                c -> [-c.c0, c.c1])),
               (x, y) -> CASE WHEN x[1]*y[2] >= y[1]*x[2] THEN x ELSE y END) AS lb,
             list_reduce(
               list_prepend([CAST(1 AS BIGINT), CAST(1 AS BIGINT)],
                 list_transform(list_filter(cs, c -> c.c1 < 0),
                                c -> [c.c0, -c.c1])),
               (x, y) -> CASE WHEN x[1]*y[2] <= y[1]*x[2] THEN x ELSE y END) AS ub,
             len(list_filter(cs, c -> c.c1 = 0 AND c.c0 < 0)) > 0 AS emp
      FROM cons),
    pieces AS (
      SELECT akey, bkey, sgn,
             (2 * (e.p1.x * lb[2] + lb[1] * (e.p2.x - e.p1.x))) // lb[2] AS sx1,
             (2 * (e.p1.y * lb[2] + lb[1] * (e.p2.y - e.p1.y))) // lb[2] AS sy1,
             (2 * (e.p1.x * ub[2] + ub[1] * (e.p2.x - e.p1.x))) // ub[2] AS sx2,
             (2 * (e.p1.y * ub[2] + ub[1] * (e.p2.y - e.p1.y))) // ub[2] AS sy2
      FROM iv
      WHERE NOT emp AND lb[1] * ub[2] < ub[1] * lb[2]),
    agg AS (
      SELECT akey, bkey,
             SUM(sgn * (sx1 * sy2 - sy1 * sx2)) AS t8
      FROM pieces
      GROUP BY akey, bkey
      HAVING SUM(sgn * (sx1 * sy2 - sy1 * sx2)) > 0)
    SELECT agg.akey, agg.bkey,
           CAST((4 * a.r * a.r - 32 - 8 * a.d) * 10000 AS BIGINT)
             AS subj_area_e4,
           CAST(t8 * 1250 AS BIGINT) AS area_e4,
           CAST(CAST(t8 * 1250 AS BIGINT) AS DOUBLE) / 10000 AS area
    FROM agg JOIN a ON agg.akey = a.akey
"""


@query("spatial_clip_concave_pairs", _CLIP_CONCAVE_SQL)
def spatial_clip_concave_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAP-FREE exact polygon intersection on NON-CONVEX subjects
    (VERDICT r13 #2, the staged follow-on to the convex entry): the
    PostGIS-`ST_Intersection`-on-arbitrary-polygons contract (reference
    load_data.py:79's geometry(Polygon,4326) is not convex-restricted)
    via CONVEX DECOMPOSITION — decompose each subject into convex
    pieces engine-side, clip every piece with the shipped exact int64
    kernel, and sum the pieces' Green contributions per pair. The
    piece-sum is decomposition-invariant (pieces tile the subject), so
    the oracle can — and does — use a DIFFERENT decomposition.

    Stores: odd custkeys build NOTCHED OCTAGONS (the r13 octagon family
    at r ∈ {12, 16} with a 8-wide, d ∈ {4, 8}-deep rectangular bite out
    of the bottom edge for keys ≡ 1 (mod 4) or out of the LEFT edge for
    keys ≡ 3 (mod 4) — two reflex vertices each; the left-notch shapes
    are C-shapes whose vertical slabs hold TWO strips, exercising the
    multi-strip sweep in the graded data). Every A line constant stays
    ≡ 0 (mod 4) in x, y, x+y, x−y — the notch edges and the
    decomposition's internal cut lines (vertical, at vertex
    x-coordinates) are IN the family — so the r13 mod-4
    general-position proof carries over verbatim against the unchanged
    even-key diamonds, and every crossing stays on the half-integer
    lattice (the `_clip_pieces_int64` exactness contract, still
    assert-enforced in the kernel).

    Engine: `operators.overlay` — `decompose` runs
    `trapezoid_decompose` (exact-int64 vertical sweep; ear-clip
    triangulation was REJECTED because its arbitrary-slope diagonals
    leave the lattice family and the kernel would rightly refuse) ONCE
    per subject row (store-sized, never pair-sized) and asserts the
    partition (piece areas sum to the subject's shoelace) on every
    polygon; `overlay_area` joins the pieces grid-blocked against the
    diamonds, runs the int64 pair kernel ONE time per (piece, diamond)
    candidate, and sums per (akey, bkey) map-side.
    `subj_area_e4` re-grades the partition cross-engine: the engine
    reports the decomposition's piece-sum shoelace while the oracle
    computes the closed-form key arithmetic (4r² − 32 − 8d)·10⁴.

    Oracle: the same intersection area by the DIFFERENCE form — subject
    = octagon ∖ notch with notch ⊂ octagon, so area(A∩B) =
    area(oct∩B) − area(notch∩B), BOTH convex×convex, evaluated by the
    r13 per-edge Green's-theorem SQL decomposition with a ±1 sign
    column. Agreement proves the geometry by two genuinely different
    exact algorithms (trapezoid piece-sum vs signed difference).

    100 TB shape: decomposition is per-subject (embarrassingly
    parallel, O(n²) on ≤12-vertex rings); candidates stay cell-blocked
    and AQE-splittable; the per-pair SUM is map-side combinable;
    nothing driver-side scales with the data. Store extent scales with
    the key moduli — 211/179/193/199 here, chosen LARGER than the
    convex entry's (MEASURED: at sf0.1 the 101/89-family store put this
    entry in the 446k-bbox-pair / 413k-positive-pair density regime and
    the oracle's quadratic side ran >19 min; the wider lattice reads
    111.7k bbox pairs, the same per-cell density family the convex
    entry has at its own moduli). Overflow: coords ≤ ~860, side values
    < 10⁵, cross-multiplied comparisons < 10¹⁰, all << 2⁶³."""
    c = load_table(spark, sf_dir, "customer")
    a = decompose(_notched_store(c, 1, 4, 12, 211, 179), "akey", "subj_area_e4")
    return overlay_area(
        a, _diamond_side(c, 193, 199), 32.0, PIECES, _DIAMOND,
        carry=("subj_area_e4",),
    )


# ---------------------------------------------------------------------------
# Snap-free exact GENERAL x GENERAL clipping (both sides non-convex)
# ---------------------------------------------------------------------------

# subject-family SQL fragments: a notched octagon's octagon ring and notch
# rectangle as DuckDB struct lists, parameterized by center/size columns
# (cut = notch half-width = 8 throughout the r14 general store)
_GEN_OCT_SQL = """
        [struct_pack(x := {cx}-{r}+8, y := {cy}-{r}), struct_pack(x := {cx}+{r}-8, y := {cy}-{r}),
         struct_pack(x := {cx}+{r}, y := {cy}-{r}+8), struct_pack(x := {cx}+{r}, y := {cy}+{r}-8),
         struct_pack(x := {cx}+{r}-8, y := {cy}+{r}), struct_pack(x := {cx}-{r}+8, y := {cy}+{r}),
         struct_pack(x := {cx}-{r}, y := {cy}+{r}-8), struct_pack(x := {cx}-{r}, y := {cy}-{r}+8)]"""
_GEN_NTC_SQL = """
        CASE WHEN {side} = 1 THEN
          [struct_pack(x := {cx}-8, y := {cy}-{r}), struct_pack(x := {cx}+8, y := {cy}-{r}),
           struct_pack(x := {cx}+8, y := {cy}-{r}+{d}), struct_pack(x := {cx}-8, y := {cy}-{r}+{d})]
        ELSE
          [struct_pack(x := {cx}-{r}, y := {cy}-8), struct_pack(x := {cx}-{r}+{d}, y := {cy}-8),
           struct_pack(x := {cx}-{r}+{d}, y := {cy}+8), struct_pack(x := {cx}-{r}, y := {cy}+8)]
        END"""

_CLIP_GENERAL_SQL = (
    """
    WITH a AS (
      SELECT c_custkey AS akey,
             8 * (c_custkey % 569) AS ax, 8 * (c_custkey % 587) AS ay,
             24 + 8 * ((c_custkey // 2) % 2) AS r,
             8 + 8 * ((c_custkey // 4) % 2) AS d,
             CASE WHEN c_custkey % 4 = 1 THEN 1 ELSE 3 END AS sd
      FROM customer WHERE c_custkey % 2 = 1),
    b AS (
      SELECT c_custkey AS bkey,
             8 * (c_custkey % 593) + 2 AS bx, 8 * (c_custkey % 599) + 4 AS by2,
             24 + 8 * ((c_custkey // 2) % 2) AS r,
             8 + 8 * ((c_custkey // 4) % 2) AS d,
             CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 3 END AS sd
      FROM customer WHERE c_custkey % 2 = 0),
    av AS (
      SELECT akey, r, d,"""
    + _GEN_OCT_SQL.format(cx="ax", cy="ay", r="r")
    + " AS oct,"
    + _GEN_NTC_SQL.format(cx="ax", cy="ay", r="r", d="d", side="sd")
    + """ AS ntc,
        ax-r AS xmin, ax+r AS xmax, ay-r AS ymin, ay+r AS ymax
      FROM a),
    bv AS (
      SELECT bkey, r AS rb, d AS db,"""
    + _GEN_OCT_SQL.format(cx="bx", cy="by2", r="r")
    + " AS oct,"
    + _GEN_NTC_SQL.format(cx="bx", cy="by2", r="r", d="d", side="sd")
    + """ AS ntc,
        bx-r AS xmin, bx+r AS xmax, by2-r AS ymin, by2+r AS ymax
      FROM b),
    pairs AS (
      SELECT av.akey, bv.bkey,
             av.oct AS octa, av.ntc AS ntca, bv.oct AS octb, bv.ntc AS ntcb
      FROM av JOIN bv ON av.xmin <= bv.xmax AND bv.xmin <= av.xmax
                     AND av.ymin <= bv.ymax AND bv.ymin <= av.ymax),
    sides AS (
      SELECT akey, bkey, octa AS sub, octb AS clp, 1 AS sgn FROM pairs
      UNION ALL SELECT akey, bkey, octb, octa, 1 FROM pairs
      UNION ALL SELECT akey, bkey, octa, ntcb, -1 FROM pairs
      UNION ALL SELECT akey, bkey, ntcb, octa, -1 FROM pairs
      UNION ALL SELECT akey, bkey, ntca, octb, -1 FROM pairs
      UNION ALL SELECT akey, bkey, octb, ntca, -1 FROM pairs
      UNION ALL SELECT akey, bkey, ntca, ntcb, 1 FROM pairs
      UNION ALL SELECT akey, bkey, ntcb, ntca, 1 FROM pairs),
    edges AS (
      SELECT akey, bkey, sgn, clp,
             unnest(list_transform(generate_series(1, len(sub)),
                    i -> struct_pack(p1 := sub[i],
                                     p2 := sub[(i % len(sub)) + 1]))) AS e
      FROM sides),
    cons AS (
      SELECT akey, bkey, sgn, e,
             list_transform(generate_series(1, len(clp)), i ->
               struct_pack(
                 c0 := (clp[(i % len(clp)) + 1].x - clp[i].x) * (e.p1.y - clp[i].y)
                     - (clp[(i % len(clp)) + 1].y - clp[i].y) * (e.p1.x - clp[i].x),
                 c1 := (clp[(i % len(clp)) + 1].x - clp[i].x) * (e.p2.y - e.p1.y)
                     - (clp[(i % len(clp)) + 1].y - clp[i].y) * (e.p2.x - e.p1.x))
             ) AS cs
      FROM edges),
    iv AS (
      SELECT akey, bkey, sgn, e,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(1 AS BIGINT)],
                 list_transform(list_filter(cs, c -> c.c1 > 0),
                                c -> [-c.c0, c.c1])),
               (x, y) -> CASE WHEN x[1]*y[2] >= y[1]*x[2] THEN x ELSE y END) AS lb,
             list_reduce(
               list_prepend([CAST(1 AS BIGINT), CAST(1 AS BIGINT)],
                 list_transform(list_filter(cs, c -> c.c1 < 0),
                                c -> [c.c0, -c.c1])),
               (x, y) -> CASE WHEN x[1]*y[2] <= y[1]*x[2] THEN x ELSE y END) AS ub,
             len(list_filter(cs, c -> c.c1 = 0 AND c.c0 < 0)) > 0 AS emp
      FROM cons),
    pieces AS (
      SELECT akey, bkey, sgn,
             (2 * (e.p1.x * lb[2] + lb[1] * (e.p2.x - e.p1.x))) // lb[2] AS sx1,
             (2 * (e.p1.y * lb[2] + lb[1] * (e.p2.y - e.p1.y))) // lb[2] AS sy1,
             (2 * (e.p1.x * ub[2] + ub[1] * (e.p2.x - e.p1.x))) // ub[2] AS sx2,
             (2 * (e.p1.y * ub[2] + ub[1] * (e.p2.y - e.p1.y))) // ub[2] AS sy2
      FROM iv
      WHERE NOT emp AND lb[1] * ub[2] < ub[1] * lb[2]),
    agg AS (
      SELECT akey, bkey,
             SUM(sgn * (sx1 * sy2 - sy1 * sx2)) AS t8
      FROM pieces
      GROUP BY akey, bkey
      HAVING SUM(sgn * (sx1 * sy2 - sy1 * sx2)) > 0)
    SELECT agg.akey, agg.bkey,
           CAST((4 * a.r * a.r - 128 - 16 * a.d) * 10000 AS BIGINT)
             AS subj_a_area_e4,
           CAST((4 * bv.rb * bv.rb - 128 - 16 * bv.db) * 10000 AS BIGINT)
             AS subj_b_area_e4,
           CAST(t8 * 1250 AS BIGINT) AS area_e4,
           CAST(CAST(t8 * 1250 AS BIGINT) AS DOUBLE) / 10000 AS area
    FROM agg JOIN a ON agg.akey = a.akey JOIN bv ON agg.bkey = bv.bkey
"""
)


def _notched_octagon_arrays(cx, cy, r, d, is_bottom, k):
    """Spark array columns (xs, ys) of the notched octagon, CCW: the square
    [cx ± r] × [cy ± r] with corners cut by ``k`` and a ``k``-half-wide,
    ``d``-deep notch out of the bottom edge where ``is_bottom``, else out of
    the left edge."""
    bottom_xs = F.array(
        cx - r + k, cx - k, cx - k, cx + k, cx + k, cx + r - k,
        cx + r, cx + r, cx + r - k, cx - r + k, cx - r, cx - r,
    )
    bottom_ys = F.array(
        cy - r, cy - r, cy - r + d, cy - r + d, cy - r, cy - r,
        cy - r + k, cy + r - k, cy + r, cy + r, cy + r - k, cy - r + k,
    )
    left_xs = F.array(
        cx - r + k, cx + r - k, cx + r, cx + r, cx + r - k, cx - r + k,
        cx - r, cx - r, cx - r + d, cx - r + d, cx - r, cx - r,
    )
    left_ys = F.array(
        cy - r, cy - r, cy - r + k, cy + r - k, cy + r, cy + r,
        cy + r - k, cy + k, cy + k, cy - k, cy - k, cy - r + k,
    )
    return (
        F.when(is_bottom, bottom_xs).otherwise(left_xs),
        F.when(is_bottom, bottom_ys).otherwise(left_ys),
    )


def _notched_side(c, parity, unit, r0, mx, my, ox=0, oy=0):
    """One side of a notched-octagon clip store, as scalar parameters:
    the customers with key ≡ ``parity`` (mod 2), keyed ``akey`` (odd) or
    ``bkey`` (even), with centre (unit·(key mod mx) + ox,
    unit·(key mod my) + oy), radius ``r`` = r0 + unit·((key DIV 2) mod 2),
    notch depth ``d`` = unit·(1 + (key DIV 4) mod 2) and notch side ``s``
    = 1 (bottom, key ≡ parity mod 4) or 3 (left), plus the bbox."""
    ck = F.col("c_custkey")
    x = (unit * (ck % mx) + ox).cast("long")
    y = (unit * (ck % my) + oy).cast("long")
    r = (r0 + unit * (F.expr("c_custkey DIV 2") % 2)).cast("long")
    d = (unit + unit * (F.expr("c_custkey DIV 4") % 2)).cast("long")
    s = F.when(ck % 4 == parity, F.lit(1)).otherwise(F.lit(3)).cast("long")
    return c.where(ck % 2 == parity).select(
        ck.alias("akey" if parity else "bkey"),
        x.alias("x"), y.alias("y"), r.alias("r"), d.alias("d"), s.alias("s"),
        *_bbox(x, y, r),
    )


def _notched_store(c, parity, unit, r0, mx, my, ox=0, oy=0, hole=False):
    """:func:`_notched_side` as polygon rings for ``decompose``: the shell
    (corner cut and notch half-width ``unit``) and, with ``hole``, the
    16×16 interior ring."""
    side = _notched_side(c, parity, unit, r0, mx, my, ox, oy)
    x, y = F.col("x"), F.col("y")
    xs, ys = _notched_octagon_arrays(
        x, y, F.col("r"), F.col("d"), F.col("s") == 1, unit
    )
    rings = [xs.alias("sxs"), ys.alias("sys")]
    if hole:
        hx, hy = _hole_arrays(x, y)
        rings += [hx.alias("hxs"), hy.alias("hys")]
    return side.select(side.columns[0], *rings)


# ---------------------------------------------------------------------------
# Snap-free clip with GEOMETRY OUTPUT: the intersection ring itself
# ---------------------------------------------------------------------------

# the r13 convex oracle's CTE chain up to `pieces` (every boundary
# segment of A∩B with exact ×2-scaled endpoints) — reused verbatim for
# the ring-output oracle, which orders those segments instead of only
# summing their Green contributions
_CLIP_CTES = _CLIP_SQL[: _CLIP_SQL.index("\n    SELECT akey, bkey,")]
assert _CLIP_CTES.rstrip().endswith(")"), "clip CTE slice drifted"

_CLIP_RINGS_SQL = (
    _CLIP_CTES
    + """,
    ring AS (
      SELECT akey, bkey, sx1, sy1, sx2, sy2,
             CASE
               WHEN sx2 > sx1 AND sy2 = sy1 THEN 0
               WHEN sx2 > sx1 AND sy2 > sy1 THEN 1
               WHEN sx2 = sx1 AND sy2 > sy1 THEN 2
               WHEN sx2 < sx1 AND sy2 > sy1 THEN 3
               WHEN sx2 < sx1 AND sy2 = sy1 THEN 4
               WHEN sx2 < sx1 AND sy2 < sy1 THEN 5
               WHEN sx2 = sx1 AND sy2 < sy1 THEN 6
               ELSE 7 END AS dcls,
             SUM(sx1 * sy2 - sy1 * sx2) OVER (PARTITION BY akey, bkey) AS t8
      FROM pieces)
    SELECT akey, bkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY akey, bkey
                                   ORDER BY dcls, sx1, sy1) AS BIGINT)
             AS v_idx,
           sx1 AS vx2, sy1 AS vy2,
           CAST(t8 * 1250 AS BIGINT) AS area_e4
    FROM ring WHERE t8 > 0
"""
)


@query("spatial_clip_convex_rings", _CLIP_RINGS_SQL)
def spatial_clip_convex_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOMETRY OUTPUT for the snap-free clip family (VERDICT r14 #2
    stretch): emit the intersection polygon's RING — ordered exact
    vertices, one row per vertex — not just its measures. Until now the
    only geometry-PRODUCING boolean ops lived on the lattice/snap seam
    (spatial_union_rings at declared 1/16° tolerance); this entry
    produces the TRUE vertex-level ST_Intersection geometry with no
    tolerance and no grid, on the r13 convex stores (octagons ×
    diamonds, mod-4 general position — reference parity: PostGIS
    ST_Intersection RETURNS a geometry, backend/load_data.py:79).

    The reconstruction needs no chaining search: the exact boundary
    pieces (each subject's edges clipped to the other polygon — the
    same `_clip_param_core` intervals the r13 kernel sums) are the
    complete boundary of A∩B, and a CCW CONVEX ring's directed edge
    directions are strictly increasing — two distinct edges can never
    share a direction class (they would be collinear, excluded by the
    congruence scheme), and the store family only produces axis and 45°
    directions, so the 8-way (sign dx, sign dy) class IS the angular
    order. Sorting segments by class, rotated to the lowest class
    present, is the canonical CCW ring on BOTH engines — the engine
    additionally asserts chain closure (each sorted segment ends where
    the next begins) on every positive pair, a per-row self-check of
    the convexity argument. Vertices are ×2-scaled int64 (half-integer
    crossings exact — the established kernel contract); `area_e4` rides
    along so the ring grades jointly with its measure.

    Oracle: the r13 per-edge Green CTE chain verbatim through `pieces`,
    then the identical direction-class ORDER in SQL (ROW_NUMBER per
    pair) — same spec, disjoint execution paths.

    100 TB shape: identical to spatial_clip_convex_pairs (the same
    `operators.overlay.overlay_rows` candidate join, one Arrow kernel
    pass; output is ≤ 8 vertex rows per positive pair)."""
    from ..functions.spatial import clip_ring_rows_batch

    def _ring_rows(ax, ay, ar, bx, by, bs):
        return clip_ring_rows_batch(
            *_octagon_mats(ax, ay, ar), *_diamond_mats(bx, by, bs)
        )

    a, b = _convex_store_sides(load_table(spark, sf_dir, "customer"))
    return overlay_rows(
        a, b, 32.0, ("ax", "ay", "ar", "bx_r", "by_r", "bs_r"), _ring_rows,
        "v_idx long, vx2 long, vy2 long, area_e4 long",
    )


# ---------------------------------------------------------------------------
# Snap-free exact clipping with INTERIOR RINGS (holes) on BOTH sides
# ---------------------------------------------------------------------------

# CCW rectangle [cx-8, cx+8] x [cy+8, cy+24] — the 16x16 interior ring of
# the holed store, strictly inside the r >= 32 notched octagon and disjoint
# from both notch placements (bottom notch tops out at cy-r+d <= cy-16;
# the left notch reaches at most cx-r+d <= cx-16 < cx-8).
_HOLED_HOLE_SQL = """
        [struct_pack(x := {cx}-8, y := {cy}+8), struct_pack(x := {cx}+8, y := {cy}+8),
         struct_pack(x := {cx}+8, y := {cy}+24), struct_pack(x := {cx}-8, y := {cy}+24)]"""

_CLIP_HOLED_SQL = (
    """
    WITH a AS (
      SELECT c_custkey AS akey,
             8 * (c_custkey % 641) AS ax, 8 * (c_custkey % 677) AS ay,
             32 + 8 * ((c_custkey // 2) % 2) AS r,
             8 + 8 * ((c_custkey // 4) % 2) AS d,
             CASE WHEN c_custkey % 4 = 1 THEN 1 ELSE 3 END AS sd
      FROM customer WHERE c_custkey % 2 = 1),
    b AS (
      SELECT c_custkey AS bkey,
             8 * (c_custkey % 653) + 2 AS bx, 8 * (c_custkey % 691) + 4 AS by2,
             32 + 8 * ((c_custkey // 2) % 2) AS r,
             8 + 8 * ((c_custkey // 4) % 2) AS d,
             CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 3 END AS sd
      FROM customer WHERE c_custkey % 2 = 0),
    av AS (
      SELECT akey, r, d,"""
    + _GEN_OCT_SQL.format(cx="ax", cy="ay", r="r")
    + " AS oct,"
    + _GEN_NTC_SQL.format(cx="ax", cy="ay", r="r", d="d", side="sd")
    + " AS ntc,"
    + _HOLED_HOLE_SQL.format(cx="ax", cy="ay")
    + """ AS hol,
        ax-r AS xmin, ax+r AS xmax, ay-r AS ymin, ay+r AS ymax
      FROM a),
    bv AS (
      SELECT bkey, r AS rb, d AS db,"""
    + _GEN_OCT_SQL.format(cx="bx", cy="by2", r="r")
    + " AS oct,"
    + _GEN_NTC_SQL.format(cx="bx", cy="by2", r="r", d="d", side="sd")
    + " AS ntc,"
    + _HOLED_HOLE_SQL.format(cx="bx", cy="by2")
    + """ AS hol,
        bx-r AS xmin, bx+r AS xmax, by2-r AS ymin, by2+r AS ymax
      FROM b),
    pairs AS (
      SELECT av.akey, bv.bkey,
             av.oct AS octa, av.ntc AS ntca, av.hol AS hola,
             bv.oct AS octb, bv.ntc AS ntcb, bv.hol AS holb
      FROM av JOIN bv ON av.xmin <= bv.xmax AND bv.xmin <= av.xmax
                     AND av.ymin <= bv.ymax AND bv.ymin <= av.ymax),
    sides AS (
      SELECT akey, bkey, octa AS sub, octb AS clp, 1 AS sgn FROM pairs
      UNION ALL SELECT akey, bkey, octb, octa, 1 FROM pairs
      UNION ALL SELECT akey, bkey, octa, ntcb, -1 FROM pairs
      UNION ALL SELECT akey, bkey, ntcb, octa, -1 FROM pairs
      UNION ALL SELECT akey, bkey, ntca, octb, -1 FROM pairs
      UNION ALL SELECT akey, bkey, octb, ntca, -1 FROM pairs
      UNION ALL SELECT akey, bkey, ntca, ntcb, 1 FROM pairs
      UNION ALL SELECT akey, bkey, ntcb, ntca, 1 FROM pairs
      UNION ALL SELECT akey, bkey, octa, holb, -1 FROM pairs
      UNION ALL SELECT akey, bkey, holb, octa, -1 FROM pairs
      UNION ALL SELECT akey, bkey, hola, octb, -1 FROM pairs
      UNION ALL SELECT akey, bkey, octb, hola, -1 FROM pairs
      UNION ALL SELECT akey, bkey, ntca, holb, 1 FROM pairs
      UNION ALL SELECT akey, bkey, holb, ntca, 1 FROM pairs
      UNION ALL SELECT akey, bkey, hola, ntcb, 1 FROM pairs
      UNION ALL SELECT akey, bkey, ntcb, hola, 1 FROM pairs
      UNION ALL SELECT akey, bkey, hola, holb, 1 FROM pairs
      UNION ALL SELECT akey, bkey, holb, hola, 1 FROM pairs),
    edges AS (
      SELECT akey, bkey, sgn, clp,
             unnest(list_transform(generate_series(1, len(sub)),
                    i -> struct_pack(p1 := sub[i],
                                     p2 := sub[(i % len(sub)) + 1]))) AS e
      FROM sides),
    cons AS (
      SELECT akey, bkey, sgn, e,
             list_transform(generate_series(1, len(clp)), i ->
               struct_pack(
                 c0 := (clp[(i % len(clp)) + 1].x - clp[i].x) * (e.p1.y - clp[i].y)
                     - (clp[(i % len(clp)) + 1].y - clp[i].y) * (e.p1.x - clp[i].x),
                 c1 := (clp[(i % len(clp)) + 1].x - clp[i].x) * (e.p2.y - e.p1.y)
                     - (clp[(i % len(clp)) + 1].y - clp[i].y) * (e.p2.x - e.p1.x))
             ) AS cs
      FROM edges),
    iv AS (
      SELECT akey, bkey, sgn, e,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(1 AS BIGINT)],
                 list_transform(list_filter(cs, c -> c.c1 > 0),
                                c -> [-c.c0, c.c1])),
               (x, y) -> CASE WHEN x[1]*y[2] >= y[1]*x[2] THEN x ELSE y END) AS lb,
             list_reduce(
               list_prepend([CAST(1 AS BIGINT), CAST(1 AS BIGINT)],
                 list_transform(list_filter(cs, c -> c.c1 < 0),
                                c -> [c.c0, -c.c1])),
               (x, y) -> CASE WHEN x[1]*y[2] <= y[1]*x[2] THEN x ELSE y END) AS ub,
             len(list_filter(cs, c -> c.c1 = 0 AND c.c0 < 0)) > 0 AS emp
      FROM cons),
    pieces AS (
      SELECT akey, bkey, sgn,
             (2 * (e.p1.x * lb[2] + lb[1] * (e.p2.x - e.p1.x))) // lb[2] AS sx1,
             (2 * (e.p1.y * lb[2] + lb[1] * (e.p2.y - e.p1.y))) // lb[2] AS sy1,
             (2 * (e.p1.x * ub[2] + ub[1] * (e.p2.x - e.p1.x))) // ub[2] AS sx2,
             (2 * (e.p1.y * ub[2] + ub[1] * (e.p2.y - e.p1.y))) // ub[2] AS sy2
      FROM iv
      WHERE NOT emp AND lb[1] * ub[2] < ub[1] * lb[2]),
    agg AS (
      SELECT akey, bkey,
             SUM(sgn * (sx1 * sy2 - sy1 * sx2)) AS t8
      FROM pieces
      GROUP BY akey, bkey
      HAVING SUM(sgn * (sx1 * sy2 - sy1 * sx2)) > 0)
    SELECT agg.akey, agg.bkey,
           CAST((4 * a.r * a.r - 384 - 16 * a.d) * 10000 AS BIGINT)
             AS subj_a_area_e4,
           CAST((4 * bv.rb * bv.rb - 384 - 16 * bv.db) * 10000 AS BIGINT)
             AS subj_b_area_e4,
           CAST(t8 * 1250 AS BIGINT) AS area_e4,
           CAST(CAST(t8 * 1250 AS BIGINT) AS DOUBLE) / 10000 AS area
    FROM agg JOIN a ON agg.akey = a.akey JOIN bv ON agg.bkey = bv.bkey
"""
)


def _hole_arrays(cx, cy):
    """Spark array columns for the 16x16 CW interior ring of the holed
    clip stores — [cx-8, cx+8] x [cy+8, cy+24], strictly inside every
    r >= 32 notched octagon of the family and disjoint from both notch
    placements."""
    return (
        F.array(cx - 8, cx - 8, cx + 8, cx + 8),
        F.array(cy + 8, cy + 24, cy + 24, cy + 8),
    )


# ---------------------------------------------------------------------------
# GEOMETRY OUTPUT for the holed clip family: the full exact boundary
# ---------------------------------------------------------------------------

# Vertex EXPRESSION templates (params are SQL column names) — one source
# of truth with functions/spatial.donut_notched_polys; the boundary
# oracle generates plain UNION ALL edge rows from these instead of list
# lambdas (DuckDB 1.0's streaming pipeline feeds list-lambda expressions
# STALE VECTORS when their inputs descend from an unnest that later
# joins — lb/ub came back as pointer-like garbage ~1.4e14 and overflowed
# INT64 multiplies; found r15 by probing per-CTE magnitudes, and AS
# MATERIALIZED only partially suppressed it, so the boundary oracle is
# fully relational: no list ops at all).
_RING_BOTTOM_T = [
    ("{cx}-{r}+8", "{cy}-{r}"), ("{cx}-8", "{cy}-{r}"),
    ("{cx}-8", "{cy}-{r}+{d}"), ("{cx}+8", "{cy}-{r}+{d}"),
    ("{cx}+8", "{cy}-{r}"), ("{cx}+{r}-8", "{cy}-{r}"),
    ("{cx}+{r}", "{cy}-{r}+8"), ("{cx}+{r}", "{cy}+{r}-8"),
    ("{cx}+{r}-8", "{cy}+{r}"), ("{cx}-{r}+8", "{cy}+{r}"),
    ("{cx}-{r}", "{cy}+{r}-8"), ("{cx}-{r}", "{cy}-{r}+8"),
]
_RING_LEFT_T = [
    ("{cx}-{r}+8", "{cy}-{r}"), ("{cx}+{r}-8", "{cy}-{r}"),
    ("{cx}+{r}", "{cy}-{r}+8"), ("{cx}+{r}", "{cy}+{r}-8"),
    ("{cx}+{r}-8", "{cy}+{r}"), ("{cx}-{r}+8", "{cy}+{r}"),
    ("{cx}-{r}", "{cy}+{r}-8"), ("{cx}-{r}", "{cy}+8"),
    ("{cx}-{r}+{d}", "{cy}+8"), ("{cx}-{r}+{d}", "{cy}-8"),
    ("{cx}-{r}", "{cy}-8"), ("{cx}-{r}", "{cy}-{r}+8"),
]
_HOLE_T = [("{cx}-8", "{cy}+8"), ("{cx}+8", "{cy}+8"),
           ("{cx}+8", "{cy}+24"), ("{cx}-8", "{cy}+24")]
_OCT_T = [
    ("{cx}-{r}+8", "{cy}-{r}"), ("{cx}+{r}-8", "{cy}-{r}"),
    ("{cx}+{r}", "{cy}-{r}+8"), ("{cx}+{r}", "{cy}+{r}-8"),
    ("{cx}+{r}-8", "{cy}+{r}"), ("{cx}-{r}+8", "{cy}+{r}"),
    ("{cx}-{r}", "{cy}+{r}-8"), ("{cx}-{r}", "{cy}-{r}+8"),
]
_NTC_BOTTOM_T = [("{cx}-8", "{cy}-{r}"), ("{cx}+8", "{cy}-{r}"),
                 ("{cx}+8", "{cy}-{r}+{d}"), ("{cx}-8", "{cy}-{r}+{d}")]
_NTC_LEFT_T = [("{cx}-{r}", "{cy}-8"), ("{cx}-{r}+{d}", "{cy}-8"),
               ("{cx}-{r}+{d}", "{cy}+8"), ("{cx}-{r}", "{cy}+8")]


def _edge_union_sql(src, key, fmt, groups):
    """UNION ALL SELECTs, one row per directed edge of each template
    ring: (skey, eid, p1x..p2y [, cov]). ``groups``: (template, where,
    reverse, id_prefix, cov-or-None); reversed traversal turns the CCW
    hole template into the CW interior-ring boundary."""
    parts = []
    for ring_t, where, rev, pref, cov in groups:
        n = len(ring_t)
        for k in range(n):
            if rev:
                a, b = ring_t[(k + 1) % n], ring_t[k]
            else:
                a, b = ring_t[k], ring_t[(k + 1) % n]
            covsql = f", {cov} AS cov" if cov is not None else ""
            parts.append(
                f"SELECT {key} AS skey, '{pref}{k}' AS eid, "
                f"{a[0].format(**fmt)} AS p1x, {a[1].format(**fmt)} AS p1y, "
                f"{b[0].format(**fmt)} AS p2x, {b[1].format(**fmt)} AS p2y"
                f"{covsql} FROM {src}{where}"
            )
    return "\n      UNION ALL ".join(parts)


def _boundary_side_sql(tag, subj_src, subj_key, subj_fmt, comp_src,
                       comp_key, comp_fmt):
    """One side's boundary CTEs, fully relational: the subject's 16
    true-boundary edges (12-gon CCW + hole CW) as generated rows, the
    other side's three signed convex components as generated edge rows,
    one plain-arithmetic candidate row per (pair, edge, comp-edge), and
    the interval per (pair, edge, comp) via FILTERed arg_max/arg_min.

    Exactness of the DOUBLE ratio ordering key: candidate bound
    fractions have |den| = |c1| <= 2*80*80 < 2^14, so two DISTINCT
    fractions differ by >= 1/(2^14 * 2^14) = 2^-28 ~ 3.7e-9, while the
    double quotient's rounding error at ratio magnitudes <= ~1e5 is
    <= ulp(1e5)/2 ~ 7.3e-12 — a >250x margin, data-independent. Ratio
    TIES pick an arbitrary candidate row, which is harmless: equal t
    means the exact integer clip coordinates (computed per-row from
    that row's own (num, den)) are identical. Bounds are clamped to
    the edge by the lot<=0 / hit>=1 CASEs; interval validity is the
    exact integer position comparison, no fractions survive."""
    subj_groups = [
        (_RING_BOTTOM_T, " WHERE sd = 1", False, "rb", None),
        (_RING_LEFT_T, " WHERE sd <> 1", False, "rl", None),
        (_HOLE_T, "", True, "h", None),
    ]
    comp_groups = [
        (_OCT_T, "", False, "o", 1),
        (_NTC_BOTTOM_T, " WHERE sd = 1", False, "n", -1),
        (_NTC_LEFT_T, " WHERE sd <> 1", False, "n", -1),
        (_HOLE_T, "", False, "hc", -1),
    ]
    subj_edges = _edge_union_sql(subj_src, subj_key, subj_fmt, subj_groups)
    comp_edges = _edge_union_sql(comp_src, comp_key, comp_fmt, comp_groups)
    return f"""
    {tag}edg AS (
      {subj_edges}),
    {tag}ce AS (
      {comp_edges}),
    {tag}cand AS (
      SELECT p.akey, p.bkey, e.eid, e.p1x, e.p1y, e.p2x, e.p2y,
             substring(c.eid, 1, 1) AS cid, c.cov,
             (c.p2x - c.p1x) * (e.p1y - c.p1y)
               - (c.p2y - c.p1y) * (e.p1x - c.p1x) AS c0,
             (c.p2x - c.p1x) * (e.p2y - e.p1y)
               - (c.p2y - c.p1y) * (e.p2x - e.p1x) AS c1
      FROM pkeys p
      JOIN {tag}edg e ON p.{subj_key} = e.skey
      JOIN {tag}ce c ON p.{comp_key} = c.skey),
    {tag}iv AS (
      SELECT akey, bkey, eid, cid,
             MAX(cov) AS cov,
             MAX(p1x) AS p1x, MAX(p1y) AS p1y,
             MAX(p2x) AS p2x, MAX(p2y) AS p2y,
             MAX(CAST(-c0 AS DOUBLE) / c1) FILTER (WHERE c1 > 0) AS lot,
             arg_max((2 * (p1x * c1 - c0 * (p2x - p1x))) // c1,
                     CAST(-c0 AS DOUBLE) / c1) FILTER (WHERE c1 > 0) AS lox,
             arg_max((2 * (p1y * c1 - c0 * (p2y - p1y))) // c1,
                     CAST(-c0 AS DOUBLE) / c1) FILTER (WHERE c1 > 0) AS loy,
             MIN(CAST(c0 AS DOUBLE) / (-c1)) FILTER (WHERE c1 < 0) AS hit,
             arg_min((2 * (p1x * (-c1) + c0 * (p2x - p1x))) // (-c1),
                     CAST(c0 AS DOUBLE) / (-c1)) FILTER (WHERE c1 < 0) AS hix,
             arg_min((2 * (p1y * (-c1) + c0 * (p2y - p1y))) // (-c1),
                     CAST(c0 AS DOUBLE) / (-c1)) FILTER (WHERE c1 < 0) AS hiy,
             BOOL_OR(c1 = 0 AND c0 < 0) AS emp
      FROM {tag}cand GROUP BY akey, bkey, eid, cid),
    {tag}bnd AS (
      SELECT akey, bkey, eid, cov,
             CASE WHEN p2x > p1x THEN 1 WHEN p2x < p1x THEN -1 ELSE 0 END
               AS sgx,
             CASE WHEN p2y > p1y THEN 1 WHEN p2y < p1y THEN -1 ELSE 0 END
               AS sgy,
             CASE WHEN lot IS NULL OR lot <= 0 THEN 2 * p1x ELSE lox END
               AS ex1,
             CASE WHEN lot IS NULL OR lot <= 0 THEN 2 * p1y ELSE loy END
               AS ey1,
             CASE WHEN hit IS NULL OR hit >= 1 THEN 2 * p2x ELSE hix END
               AS ex2,
             CASE WHEN hit IS NULL OR hit >= 1 THEN 2 * p2y ELSE hiy END
               AS ey2
      FROM {tag}iv WHERE NOT emp),
    {tag}ev AS (
      SELECT akey, bkey, eid, sgx * ex1 + sgy * ey1 AS pos,
             cov AS delta, ex1 AS xx, ey1 AS yy
      FROM {tag}bnd WHERE sgx * ex1 + sgy * ey1 < sgx * ex2 + sgy * ey2
      UNION ALL
      SELECT akey, bkey, eid, sgx * ex2 + sgy * ey2, -cov, ex2, ey2
      FROM {tag}bnd WHERE sgx * ex1 + sgy * ey1 < sgx * ex2 + sgy * ey2),
    {tag}ps AS (
      SELECT akey, bkey, eid, pos,
             SUM(delta) AS d, MAX(xx) AS xx, MAX(yy) AS yy
      FROM {tag}ev GROUP BY akey, bkey, eid, pos),
    {tag}fr AS (
      SELECT akey, bkey, x1_2, y1_2, x2_2, y2_2 FROM (
        SELECT akey, bkey, xx AS x1_2, yy AS y1_2,
               SUM(d) OVER w AS cum,
               LEAD(xx) OVER w AS x2_2, LEAD(yy) OVER w AS y2_2
        FROM {tag}ps
        WINDOW w AS (PARTITION BY akey, bkey, eid ORDER BY pos))
      WHERE cum = 1 AND x2_2 IS NOT NULL)"""


_HOLED_CTES = _CLIP_HOLED_SQL[: _CLIP_HOLED_SQL.index("\n    SELECT agg.akey")]
assert _HOLED_CTES.rstrip().endswith(")"), "holed CTE slice drifted"

_CLIP_HOLED_BOUNDARY_SQL = (
    _HOLED_CTES
    + """,
    pkeys AS (SELECT akey, bkey FROM pairs),"""
    + _boundary_side_sql(
        "a", "a", "akey", {"cx": "ax", "cy": "ay", "r": "r", "d": "d"},
        "b", "bkey", {"cx": "bx", "cy": "by2", "r": "r", "d": "d"},
    )
    + ","
    + _boundary_side_sql(
        "b", "b", "bkey", {"cx": "bx", "cy": "by2", "r": "r", "d": "d"},
        "a", "akey", {"cx": "ax", "cy": "ay", "r": "r", "d": "d"},
    )
    + """,
    segs AS (SELECT * FROM afr UNION ALL SELECT * FROM bfr),
    segd AS (
      SELECT akey, bkey, x1_2, y1_2, x2_2, y2_2,
             CASE
               WHEN x2_2 > x1_2 AND y2_2 = y1_2 THEN 0
               WHEN x2_2 > x1_2 AND y2_2 > y1_2 THEN 1
               WHEN x2_2 = x1_2 AND y2_2 > y1_2 THEN 2
               WHEN x2_2 < x1_2 AND y2_2 > y1_2 THEN 3
               WHEN x2_2 < x1_2 AND y2_2 = y1_2 THEN 4
               WHEN x2_2 < x1_2 AND y2_2 < y1_2 THEN 5
               WHEN x2_2 = x1_2 AND y2_2 < y1_2 THEN 6
               ELSE 7 END AS dcls
      FROM segs),
    eul AS (
      SELECT s1.akey, s1.bkey,
             CAST(SUM(((s2.dcls - s1.dcls + 12) % 8) - 4) AS BIGINT)
               AS turning8
      FROM segd s1 JOIN segd s2
        ON s1.akey = s2.akey AND s1.bkey = s2.bkey
       AND s1.x2_2 = s2.x1_2 AND s1.y2_2 = s2.y1_2
      GROUP BY s1.akey, s1.bkey)
    SELECT s.akey, s.bkey, s.x1_2, s.y1_2, s.x2_2, s.y2_2,
           CAST(g.t8 * 1250 AS BIGINT) AS area_e4, e.turning8
    FROM segd s
    JOIN agg g ON s.akey = g.akey AND s.bkey = g.bkey
    JOIN eul e ON s.akey = e.akey AND s.bkey = e.bkey
"""
)


@query("spatial_clip_holed_boundary", _CLIP_HOLED_BOUNDARY_SQL)
def spatial_clip_holed_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOMETRY OUTPUT for the fully general clip family — the complete
    exact BOUNDARY of A∩B where both subjects are non-convex AND carry
    interior rings, emitted as directed ×2-scaled segments
    (interior-left), one row per boundary segment. Together with
    `spatial_clip_convex_rings` this closes the r14 verdict's stretch
    entirely: snap-free ST_Intersection geometry with no tolerance, no
    grid, and no convexity restriction — multi-component intersections
    and intersections WITH HOLE RINGS both occur in the graded data
    (the donut-notched store produces them: ~28% of random positive
    pairs are multi-ring, ~20% contain a hole ring).

    Construction (both engines, shared spec, disjoint execution): in
    general position ∂(A∩B) = (∂A ∩ B) ∪ (∂B ∩ A). Each side's TRUE
    boundary (the notched 12-gon CCW + the hole ring CW) clips
    edge-by-edge against the OTHER side's three signed convex
    components (octagon +1, notch −1, hole −1 — coverage 1 ⇔ inside);
    the exact interval endpoints land as ±coverage events on the edge
    and a position-grouped 1D sweep emits the fragments where coverage
    is exactly 1. Coincident events (a notch mouth collinear with its
    octagon edge) group by position, so simultaneous enter/exit nets
    to zero. No polygon decomposition anywhere — the trapezoid path is
    the AREA entries' engine; this entry reconstructs geometry
    directly from edge intervals.

    Graded cross-checks beyond the segment set itself:
    - `area_e4` — engine: the BOUNDARY's shoelace sum (Σ cross over
      directed fragments = 8·area); oracle: the nine-term Green
      inclusion-exclusion (the holed AREA oracle verbatim). Two
      genuinely different exact area algorithms meeting per pair.
    - `turning8` — total exterior turning in 45° units via the 8-way
      direction classes at each boundary vertex (one successor
      self-join): by the Hopf Umlaufsatz this equals
      8·(#CCW rings − #CW hole rings), grading the intersection's RING
      TOPOLOGY without shipping ring ids. The engine chains full rings
      (successor following — every vertex has degree exactly 2 in
      general position) and asserts closure and ±8 turning per ring.

    100 TB shape: subject-level cell-blocked candidates (NO
    decomposition — candidate rows are pairs, not piece pairs), ten
    scalar param columns through ONE Arrow pass
    (`operators.overlay.overlay_rows`), output
    proportional to the boundary. Overflow: coords ≤ ~5300 ⇒ every
    cross-multiplied comparison ≤ ~10¹¹ ≪ 2⁶³."""
    from ..functions.spatial import holed_boundary_rows_batch

    c = load_table(spark, sf_dir, "customer")
    params = ("x", "y", "r", "d", "s")
    return overlay_rows(
        _notched_side(c, 1, 8, 32, 641, 677),
        _notched_side(c, 0, 8, 32, 653, 691, 2, 4),
        64.0,
        (*params, *(p + "_r" for p in params)),
        holed_boundary_rows_batch,
        "x1_2 long, y1_2 long, x2_2 long, y2_2 long, area_e4 long, "
        "turning8 long",
    )


@query("spatial_clip_holed_pairs", _CLIP_HOLED_SQL)
def spatial_clip_holed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAP-FREE exact polygon intersection where BOTH sides carry an
    INTERIOR RING — the holes completion of the clip family (VERDICT
    r14 #2; reference parity: PostGIS `ST_Intersection` on
    ``geometry(Polygon,4326)``, reference backend/load_data.py:79 — a
    PostGIS Polygon admits interior rings, the one shape class the r14
    family didn't cover). Subjects are DONUT-NOTCHED octagons: the r14
    general-entry notched octagons at r ∈ {32, 40} (bottom- or
    left-notched by key) with a 16×16 rectangular hole at
    [cx−8, cx+8] × [cy+8, cy+24] — non-convex shell AND interior ring,
    the fully general PostGIS Polygon.

    The mod-8 general-position scheme carries VERBATIM from the r14
    general entry: the hole's four axis-aligned edges sit at x ≡ cx±8,
    y ≡ cy+8/cy+24, which stay in each side's line classes (A: x, y ≡ 0;
    B: x ≡ 2, y ≡ 4 mod 8), so no collinear overlap, no vertex-on-edge,
    and every A×B crossing is integer — the `_clip_pieces_int64`
    half-integer contract holds assert-enforced. The hole is strictly
    interior by construction: top edge cy+24 < cy+r (r ≥ 32), corner
    cuts at x+y = cx+cy+2r−8 ≥ cx+cy+56 > cx+cy+32, bottom notch tops
    out at cy−r+d ≤ cy−16, the left notch reaches at most
    cx−r+d ≤ cx−16 (enumerated in tests/test_r15_catalog.py).

    Engine: both stores decompose ONCE per subject row through the
    r15 holes extension of `trapezoid_decompose` (CW hole edges join
    the slab span sets; even-odd parity over the combined edge set IS
    shell-minus-hole; the pieces-tile-the-polygon partition check now
    asserts against the NET shoelace) via `operators.overlay.decompose`
    — store-sized, never pair-sized. `overlay_area` joins the piece
    bboxes grid-blocked, runs the int64 pair kernel ONE time per
    (pieceA, pieceB) candidate and sums per (akey, bkey) map-side.
    Both subjects' NET piece-sum shoelaces ride along and are graded
    against the oracle's closed-form key arithmetic
    (4r² − 384 − 16d)·10⁴ — the partition check on BOTH holed
    decompositions, cross-engine.

    Oracle: inclusion-exclusion over NINE convex×convex terms —
    1_A = 1_Oa − 1_Na − 1_Ha and 1_B = 1_Ob − 1_Nb − 1_Hb (notch and
    hole are disjoint subsets of their octagon), so area(A∩B) expands
    to |OaOb| − |OaNb| − |OaHb| − |NaOb| + |NaNb| + |NaHb| − |HaOb| +
    |HaNb| + |HaHb| — each term the r13 per-edge Green SQL
    decomposition, eighteen signed side rows per candidate pair. A
    genuinely different algorithm from the engine's trapezoid
    piece×piece sum, as throughout the family.

    100 TB shape: identical to the general entry (store-sized
    decomposition, cell-blocked AQE-splittable candidates, map-combined
    sum); store extent via prime moduli 641/677 vs 653/691. The moduli
    DIFFERENCE matters as much as their size (measured, r15): keys
    below the smaller modulus sit on the diagonal y ≈ x, and wrapped
    key ranges form PARALLEL diagonal lines spaced 8·(P₂−P₁) apart —
    a first cut at 641/647 put the lines 48 apart, well inside the
    ≤160-unit joint bbox reach of r ∈ {32,40} subjects, and read
    11 478 positive pairs at sf0.01 (3× the family's density). At
    differences 36/38 the line spacing (288/304) exceeds the reach, so
    pairs come only from co-line neighbors and A-line×B-line
    near-coincidences — linear in N until keys wrap at P₁·P₂ ≈ 4·10⁵
    (the r14 general entry's 569/587 spacing-144 > reach-128 property,
    now stated as the design rule).
    Overflow: coords ≤ ~5300, c0 ≤ ~5·10⁵, cross-multiplied
    comparisons ≤ ~2.5·10¹¹, scaled crosses ≤ ~5·10⁷ — all ≪ 2⁶³."""
    c = load_table(spark, sf_dir, "customer")
    a = _notched_store(c, 1, 8, 32, 641, 677, hole=True)
    b = _notched_store(c, 0, 8, 32, 653, 691, 2, 4, hole=True)
    return overlay_area(
        decompose(a, "akey", "subj_a_area_e4"),
        decompose(b, "bkey", "subj_b_area_e4"),
        64.0, PIECES, PIECES,
        carry=("subj_a_area_e4", "subj_b_area_e4"),
    )


@query("spatial_clip_general_pairs", _CLIP_GENERAL_SQL)
def spatial_clip_general_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAP-FREE exact polygon intersection with BOTH sides NON-convex —
    the general×general completion of the clip family (convex×convex
    r13, concave×convex `spatial_clip_concave_pairs`): both stores are
    notched octagons (bottom- or left-notched by key; the left-notch
    shapes are C-shapes), both trapezoid-decomposed engine-side, and
    area(A∩B) = Σᵢⱼ area(pieceᵢ(A) ∩ pieceⱼ(B)) — the piece×piece sum
    is decomposition-invariant on both axes, so the oracle again uses a
    DIFFERENT algorithm entirely.

    General position moves from the r13 mod-4 scheme to MOD 8 (two
    45°-edge families must not share diagonal constants, which mod 4
    cannot express: diag class = x-class + y-class forces a collision
    in every mod-4 assignment): A's constants are ≡ 0 (mod 8) in
    x, y, x±y while B's centers sit at (≡2, ≡4) so B's lines read
    x ≡ 2, y ≡ 4, x+y ≡ 6, x−y ≡ 6 (mod 8) — no collinear overlap, no
    vertex-on-edge anywhere, axis×axis and axis×45° crossings INTEGER,
    45°×45° crossings x = (a+b)/2 with a+b ≡ 6 (mod 8) also integer —
    everything on the kernel's half-integer lattice (assert-enforced;
    a 400-random-pair Fraction cross-check in tests/test_r14_catalog.py
    proves the scheme empirically too).

    Engine: both stores decompose ONCE per subject row
    (`operators.overlay.decompose` over `trapezoid_decompose` —
    store-sized); `overlay_area` joins the piece bboxes grid-blocked
    (cell 64), runs the int64 pair kernel ONE time per (pieceA, pieceB)
    candidate and sums per (akey, bkey) map-side. Both subjects'
    piece-sum shoelaces ride along and are graded against the oracle's
    closed-form key arithmetic (4r² − 128 − 16d)·10⁴ — the partition
    check on BOTH decompositions.

    Oracle: inclusion-exclusion over FOUR convex×convex terms —
    (Oa∖Na) ∩ (Ob∖Nb) has area |OaOb| − |OaNb| − |NaOb| + |NaNb|
    (both notches are subsets of their octagons, so the signed sum is
    exact) — each term the r13 per-edge Green SQL decomposition, eight
    signed side rows per candidate pair.

    100 TB shape: identical to the concave entry (store-sized
    decomposition, cell-blocked AQE-splittable candidates, map-combined
    sum); extent via prime moduli 569/587 vs 593/599 (MEASURED: the 283-family read 127k bbox pairs at sf0.1 — concave-entry territory with an 8-side oracle on top; the wider lattice reads 40k while sf0.01 still grades thousands) keeps per-cell
    density in the family the sibling entries measured. Overflow:
    coords ≤ ~4800, c0 ≤ ~4·10⁵, cross-multiplied comparisons
    ≤ ~1.6·10¹¹, scaled crosses ≤ ~3·10⁷ — all ≪ 2⁶³."""
    c = load_table(spark, sf_dir, "customer")
    a = _notched_store(c, 1, 8, 24, 569, 587)
    b = _notched_store(c, 0, 8, 24, 593, 599, 2, 4)
    return overlay_area(
        decompose(a, "akey", "subj_a_area_e4"),
        decompose(b, "bkey", "subj_b_area_e4"),
        64.0, PIECES, PIECES,
        carry=("subj_a_area_e4", "subj_b_area_e4"),
    )


# --------------------------------------------------------------------------
# Convex hull (ST_ConvexHull aggregate) — exact integer monotone chain
# --------------------------------------------------------------------------


def _hull_ccw(points):
    """Andrew's monotone chain over SORTED unique int tuples — strict
    turns (pop on cross ≤ 0), so collinear mid-edge points are never
    vertices, matching the oracle's maximal-edge characterization.
    Returns the CCW ring (1 point → itself; collinear set → the two
    extremes)."""
    if len(points) <= 1:
        return list(points)

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lo: list = []
    for p in points:
        while len(lo) >= 2 and cross(lo[-2], lo[-1], p) <= 0:
            lo.pop()
        lo.append(p)
    up: list = []
    for p in reversed(points):
        while len(up) >= 2 and cross(up[-2], up[-1], p) <= 0:
            up.pop()
        up.append(p)
    return lo[:-1] + up[:-1]


_HULL_PTS_SCHEMA = "g long, x long, y long"
_HULL_OUT_SCHEMA = (
    "g long, x long, y long, nx long, ny long, n_vertices long, area2 long"
)


def _hull_local_reduce(batches):
    """Per-partition hull pre-reduce (the 100 TB move): a point that is
    not a vertex of its partition-local hull lies in the convex hull of
    its partition peers, hence in the hull of the whole group — it can
    never be a global vertex, so dropping it is lossless. Survivors per
    (partition, group) are O(hull size)."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        out_g, out_x, out_y = [], [], []
        for g, grp in pdf.groupby("g"):
            pts = sorted(set(zip(grp["x"].astype(int), grp["y"].astype(int))))
            for x, y in _hull_ccw(pts):
                out_g.append(int(g))
                out_x.append(x)
                out_y.append(y)
        yield pd.DataFrame({"g": out_g, "x": out_x, "y": out_y})


def _hull_finalize(key, pdf):
    pts = sorted(set(zip(pdf["x"].astype(int), pdf["y"].astype(int))))
    ring = _hull_ccw(pts)
    m = len(ring)
    if m == 1:
        edges = [(ring[0], ring[0])]
    else:
        edges = [(ring[i], ring[(i + 1) % m]) for i in range(m)]
    area2 = sum(p[0] * q[1] - q[0] * p[1] for p, q in edges) if m > 2 else 0
    return pd.DataFrame(
        {
            "g": [int(key[0])] * len(edges),
            "x": [p[0] for p, _ in edges],
            "y": [p[1] for p, _ in edges],
            "nx": [q[0] for _, q in edges],
            "ny": [q[1] for _, q in edges],
            "n_vertices": [m] * len(edges),
            "area2": [area2] * len(edges),
        }
    )


@query(
    "spatial_convex_hull_edges",
    """
    WITH p AS (
      SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS g,
             CAST(c_custkey % 173 AS BIGINT) AS x,
             CAST((c_custkey * 7) % 181 AS BIGINT) AS y
      FROM customer WHERE c_custkey % 7 = 0),
    cnt AS (SELECT g, COUNT(*) AS n FROM p GROUP BY g),
    e AS (
      SELECT a.g, a.x AS px, a.y AS py, b.x AS qx, b.y AS qy
      FROM p a JOIN p b
        ON a.g = b.g AND (a.x <> b.x OR a.y <> b.y)),
    hull_e AS (
      SELECT e.g, e.px, e.py, e.qx, e.qy FROM e
      WHERE NOT EXISTS (
        SELECT 1 FROM p r
        WHERE r.g = e.g
          AND NOT (r.x = e.px AND r.y = e.py)
          AND NOT (r.x = e.qx AND r.y = e.qy)
          AND NOT (
            (e.qx - e.px) * (r.y - e.py)
              - (e.qy - e.py) * (r.x - e.px) > 0
            OR ((e.qx - e.px) * (r.y - e.py)
                  - (e.qy - e.py) * (r.x - e.px) = 0
                AND r.x BETWEEN LEAST(e.px, e.qx) AND GREATEST(e.px, e.qx)
                AND r.y BETWEEN LEAST(e.py, e.qy)
                      AND GREATEST(e.py, e.qy))))),
    singles AS (
      SELECT p.g, p.x, p.y FROM p JOIN cnt ON p.g = cnt.g WHERE cnt.n = 1),
    v AS (
      SELECT g, px AS x, py AS y FROM hull_e
      UNION
      SELECT g, qx AS x, qy AS y FROM hull_e
      UNION
      SELECT g, x, y FROM singles),
    stats AS (SELECT g, COUNT(*) AS n_vertices FROM v GROUP BY g),
    ar AS (SELECT g, SUM(px * qy - qx * py) AS area2 FROM hull_e GROUP BY g),
    edges_all AS (
      SELECT g, px, py, qx, qy FROM hull_e
      UNION ALL
      SELECT g, x, y, x, y FROM singles)
    SELECT ea.g AS n_nationkey, ea.px AS x, ea.py AS y,
           ea.qx AS nx, ea.qy AS ny,
           s.n_vertices,
           CAST(CASE WHEN s.n_vertices > 2
                     THEN COALESCE(a.area2, 0) ELSE 0 END AS BIGINT) AS area2
    FROM edges_all ea
    JOIN stats s ON ea.g = s.g
    LEFT JOIN ar a ON ea.g = a.g
    ORDER BY 1, 2, 3, 4, 5
    """,
)
def spatial_convex_hull_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ConvexHull as a distributed AGGREGATE — the full RING TOPOLOGY
    graded: one row per directed CCW hull edge (plus the self-loop for
    single-point groups), with vertex count and the exact ×2 shoelace
    area riding along. Grading EDGES (not a vertex set) pins the cyclic
    order without needing an angular sort — no libm anywhere, every
    value int64 (coords < 181, products < 2¹⁶).

    Points: per-nation customer positions on the (k % 173, 7k % 181)
    lattice, key-filtered to k % 7 = 0 — the filter bounds the ORACLE's
    cubic candidate-edge check (the engine is near-linear; the
    quadratics live only in DuckDB, the catalog's standing rule).
    Degenerate shapes occur in the graded data across SFs: sf0.001 has
    single-point nations (self-loop edge, area 0), and any all-collinear
    group grades as the two extremes with both directed edges.

    Engine (exact int64 end-to-end): ONE mapInPandas pre-reduce computes
    each partition's LOCAL hull per group — lossless, because a point
    that is not a vertex of its partition-local hull lies in
    conv(partition peers) ⊆ conv(group), so it cannot be a global
    vertex; survivors are O(hull size) per (partition, group), which is
    what makes the final per-group applyInPandas safe at 100 TB (the
    shuffle carries hull candidates, never the point cloud — the
    classic two-level distributed hull). The finalize stage re-runs the
    same strict-turn monotone chain (`_hull_ccw`, pop on cross ≤ 0, so
    collinear mid-edge points are never vertices) and emits the CCW
    ring edges.

    Oracle: the maximal-edge characterization, independently — a
    directed edge (p, q) is a CCW hull edge iff every other group point
    is strictly LEFT of it, or collinear AND strictly inside the
    segment's bbox (so only the MAXIMAL collinear edge survives, and
    its interior points are not vertices — exactly the strict-chain
    semantics). Reference parity: PostGIS ST_ConvexHull
    (reference backend uses geometry(Polygon,4326) columns,
    load_data.py:79; the hull is the canonical geometry aggregate over
    point sets)."""
    c = load_table(spark, sf_dir, "customer")
    pts = (
        c.where(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_nationkey").cast("long").alias("g"),
            (F.col("c_custkey") % 173).cast("long").alias("x"),
            ((F.col("c_custkey") * 7) % 181).cast("long").alias("y"),
        )
        .distinct()
    )
    cand = pts.mapInPandas(_hull_local_reduce, _HULL_PTS_SCHEMA)
    res = cand.groupBy("g").applyInPandas(_hull_finalize, _HULL_OUT_SCHEMA)
    return res.orderBy("g", "x", "y", "nx", "ny").select(
        F.col("g").alias("n_nationkey"),
        "x", "y", "nx", "ny", "n_vertices", "area2",
    )
