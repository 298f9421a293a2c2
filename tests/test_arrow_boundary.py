"""The one Arrow boundary for scalar Python kernels (functions/arrow.py).

NaN and NULL cross it as the native Spark expressions carry them: a NaN
input stays NaN and only a NULL input (or a kernel's own ``None``) gives
NULL. ``matrix`` fails loudly on the rows it cannot decode, and no other
module builds a scalar Python UDF.
"""

from __future__ import annotations

import ast
import math
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.catalog.geo_analytics import _LENGTH_SCHEMA
from govgis_nov2023_slim_spatial_server_spark.functions.arrow import matrix, row_udf
from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
    _R,
    make_area_centroid_udf,
    make_reproject_udf,
    wkb_box,
    wkb_length_npoints,
    wkb_linestring,
)

PACKAGE = Path(__file__).resolve().parents[1] / "govgis_nov2023_slim_spatial_server_spark"
NAN = float("nan")


def _same(got, want) -> bool:
    """NULL only where NULL is expected, NaN only where NaN is, else equal
    up to a libm ulp."""
    if want is None or got is None:
        return got is want
    if math.isnan(want) or math.isnan(got):
        return math.isnan(want) and math.isnan(got)
    return math.isclose(got, want, rel_tol=1e-12, abs_tol=0.0)


def _assert_columns_match(rows, pairs):
    for r in rows:
        for got, want in pairs:
            assert _same(r[got], r[want]), (r["id"], got, r[got], want, r[want])


def test_reprojection_keeps_nan_and_null(spark):
    """Against the native web-mercator formulas in the same select: a
    pandas round trip answered NULL for the NaN ``x`` rows."""
    df = spark.createDataFrame(
        [(1, 1.0e6, 2.0e6), (2, NAN, 5.0e5), (3, 5.0e5, NAN), (4, None, None)],
        "id long, x double, y double",
    )
    ux, uy = make_reproject_udf(3857, 4326)
    rows = df.select(
        "id",
        ux("x", "y").alias("lon"),
        uy("x", "y").alias("lat"),
        F.degrees(F.col("x") / _R).alias("lon_native"),
        F.degrees(F.atan(F.exp(F.col("y") / _R)) * 2.0 - math.pi / 2.0).alias("lat_native"),
    ).collect()
    assert len(rows) == 4
    _assert_columns_match(rows, [("lon", "lon_native"), ("lat", "lat_native")])
    assert math.isnan(next(r["lon"] for r in rows if r["id"] == 2))


def _seg(x0, y0, x1, y1):
    return F.sqrt((F.col(x1) - F.col(x0)) * (F.col(x1) - F.col(x0))
                  + (F.col(y1) - F.col(y0)) * (F.col(y1) - F.col(y0)))


def test_linestring_length_keeps_nan_and_null(spark):
    """``wkb_length_npoints`` through the row lift against the native
    segment sum over the same three vertices."""
    verts = [(1, (0.0, 0.0, 3.0, 4.0, 3.0, 6.0)), (2, (0.0, 0.0, NAN, 4.0, 3.0, 6.0))]
    rows = [(i, wkb_linestring([v[0:2], v[2:4], v[4:6]]), *v) for i, v in verts]
    rows.append((3, None, None, None, None, None, None, None))
    df = spark.createDataFrame(
        rows, "id long, wkb binary, x0 double, y0 double, x1 double, y1 double,"
        " x2 double, y2 double",
    )
    out = df.select(
        "id",
        row_udf(_LENGTH_SCHEMA, wkb_length_npoints)("wkb").alias("l"),
        (_seg("x0", "y0", "x1", "y1") + _seg("x1", "y1", "x2", "y2")).alias("length_native"),
    ).select("id", "l.length", "l.n_points", "length_native").collect()
    _assert_columns_match(out, [("length", "length_native")])
    assert {r["id"]: r["n_points"] for r in out} == {1: 3, 2: 3, 3: None}


def test_area_centroid_keeps_nan_and_null(spark):
    """``wkb_area_centroid`` against the native shoelace over the same
    closed box ring (CCW, so 2A > 0)."""
    boxes = [(1, (0.0, 0.0, 2.0, 1.0)), (2, (0.0, 0.0, NAN, 1.0))]
    rows = [(i, wkb_box(*b), *b) for i, b in boxes] + [(3, None, None, None, None, None)]
    df = spark.createDataFrame(
        rows, "id long, wkb binary, xmin double, ymin double, xmax double, ymax double"
    )
    ring = [("xmin", "ymin"), ("xmax", "ymin"), ("xmax", "ymax"), ("xmin", "ymax"), ("xmin", "ymin")]
    a2 = sx = sy = F.lit(0.0)
    for (xi, yi), (xj, yj) in zip(ring, ring[1:]):
        cross = F.col(xi) * F.col(yj) - F.col(xj) * F.col(yi)
        a2, sx, sy = a2 + cross, sx + (F.col(xi) + F.col(xj)) * cross, sy + (F.col(yi) + F.col(yj)) * cross
    out = df.select(
        "id",
        make_area_centroid_udf()("wkb").alias("ac"),
        (a2 / 2.0).alias("area_native"),
        (sx / (a2 * 3.0)).alias("cx_native"),
        (sy / (a2 * 3.0)).alias("cy_native"),
    ).select("id", "ac.area", "ac.cx", "ac.cy", "area_native", "cx_native", "cy_native").collect()
    assert len(out) == 3
    _assert_columns_match(
        out, [("area", "area_native"), ("cx", "cx_native"), ("cy", "cy_native")]
    )


def test_matrix_decodes_and_fails_loudly():
    f32 = pa.list_(pa.float32())
    arr = pa.array([[1.5, 2.0], [3.0, 0.1]], f32)
    m = matrix(arr, 2)
    assert m.dtype == np.float64
    assert m.tolist() == [[1.5, 2.0], [3.0, float(np.float32(0.1))]]  # exact widening
    assert matrix(arr.slice(1), 2).tolist() == [[3.0, float(np.float32(0.1))]]
    assert matrix(pa.array([], f32), 3).shape == (0, 3)
    with pytest.raises(ValueError, match="NULL row"):
        matrix(pa.array([[1.0, 2.0], None], f32), 2)
    with pytest.raises(ValueError, match="elements"):
        matrix(pa.array([[1.0, 2.0], [3.0]], f32), 2)
    with pytest.raises(ValueError, match="NULL element"):
        matrix(pa.array([[1.0, None]], f32), 2)


def _code_sites(name: str) -> set[str]:
    """``file::top-level definition`` of every code reference to ``name``
    in the package (comments and docstrings are not code)."""
    sites = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (
                    (isinstance(node, ast.Name) and node.id == name)
                    or (isinstance(node, ast.Attribute) and node.attr == name)
                    or (isinstance(node, ast.alias) and node.name == name)
                ):
                    sites.add(f"{path.relative_to(PACKAGE)}::{getattr(top, 'name', '<module>')}")
    return sites


def test_one_arrow_boundary_for_scalar_udfs():
    """Every scalar Python UDF is built in functions/arrow.py. The one
    pandas UDF left is the GROUPED_AGG pair that grades that shape."""
    assert {s.split("::")[0] for s in _code_sites("arrow_udf")} == {"functions/arrow.py"}
    assert _code_sites("pandas_udf") == {"catalog/temporal.py::_cents_total_udaf"}
