import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
    bbox_contains_point,
    lonlat_to_mercator,
    make_box_wkb_udf,
    make_reproject_udf,
    mercator_to_lonlat,
    parse_wkb_polygons,
    point_in_polygon_wkb,
    point_in_rings,
    reproject_point,
    validate_lonlat,
    wkb_bounds,
    wkb_box,
    wkb_geometry,
    wkb_linestring,
    wkb_point,
    wkb_polygon,
)
from govgis_nov2023_slim_spatial_server_spark.sources.ingest import derive_geometry


def test_wkb_roundtrip_box():
    w = wkb_box(-10.0, 20.0, -5.0, 25.0)
    polys = parse_wkb_polygons(w)
    assert len(polys) == 1 and len(polys[0]) == 1
    assert wkb_bounds(w) == (-10.0, 20.0, -5.0, 25.0)


def test_point_in_polygon_basic():
    w = wkb_box(0.0, 0.0, 10.0, 10.0)
    assert point_in_polygon_wkb(w, 5.0, 5.0)
    assert not point_in_polygon_wkb(w, 15.0, 5.0)
    assert not point_in_polygon_wkb(w, -0.1, 5.0)


def test_point_in_polygon_with_hole():
    w = wkb_polygon(
        [
            [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
            [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)],  # hole
        ]
    )
    assert point_in_polygon_wkb(w, 2.0, 2.0)
    assert not point_in_polygon_wkb(w, 5.0, 5.0)  # inside the hole


def test_point_in_nonconvex():
    # L-shaped polygon
    w = wkb_polygon([[(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4), (0, 0)]])
    assert point_in_polygon_wkb(w, 1.0, 3.0)
    assert point_in_polygon_wkb(w, 3.0, 1.0)
    assert not point_in_polygon_wkb(w, 3.0, 3.0)


def test_wkb_point_and_none():
    assert wkb_bounds(wkb_point(3.0, 4.0)) == (3.0, 4.0, 3.0, 4.0)
    assert wkb_bounds(None) is None
    assert not point_in_polygon_wkb(None, 0, 0)
    assert wkb_bounds(b"\x01\x99\x00\x00\x00") is None  # bad type byte → None


def test_bbox_udf_and_prune(spark):
    rows = [(1, wkb_box(0, 0, 2, 2)), (2, wkb_box(5, 5, 9, 9)), (3, None)]
    df = spark.createDataFrame(rows, "id: long, geom_wkb: binary")
    out = derive_geometry(df)
    got = {r["id"]: r["bbox"] for r in out.collect()}
    assert got[1]["xmin"] == 0.0 and got[1]["ymax"] == 2.0
    assert got[3]["xmin"] is None
    hits = out.where(bbox_contains_point("bbox", 1.0, 1.5)).select("id").collect()
    assert [r["id"] for r in hits] == [1]


def test_point_in_rings_refine(spark):
    rows = [(1, wkb_box(0, 0, 2, 2)), (2, wkb_box(5, 5, 9, 9)), (3, None)]
    df = derive_geometry(spark.createDataFrame(rows, "id: long, geom_wkb: binary"))
    out = df.where(point_in_rings("geom_rings", 6.0, 6.0))
    assert [r["id"] for r in out.collect()] == [2]
    # the refine is native: no Python evaluation node in its plan
    refine = df.select("id", "geom_rings").localCheckpoint()
    plan = refine.where(point_in_rings("geom_rings", 6.0, 6.0))._jdf.queryExecution()
    assert "EvalPython" not in plan.executedPlan().toString()


def _geometry_cases(rng):
    """Seeded WKB values for the point_in_rings bit-identity test, on a
    half-unit grid so query points land on vertices and edges."""
    import struct as _struct

    def grid(lo, hi):
        return float(rng.randint(2 * lo, 2 * hi + 1)) / 2

    def rand_box():
        x0, y0 = grid(-6, 4), grid(-6, 4)
        return x0, y0, x0 + grid(1, 5), y0 + grid(1, 5)

    def star(cx, cy, n):
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(0.5, 4.0, n)
        pts = [(float(np.round(2 * (cx + r * np.cos(a)))) / 2,
                float(np.round(2 * (cy + r * np.sin(a)))) / 2)
               for a, r in zip(ang, rad)]
        return pts + [pts[0]]

    def holed():
        x0, y0, x1, y1 = rand_box()
        x1, y1 = x1 + 2, y1 + 2
        hole = [(x0 + 1, y0 + 1), (x1 - 1, y0 + 1), (x1 - 1, y1 - 1),
                (x0 + 1, y1 - 1), (x0 + 1, y0 + 1)]
        outer = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        return [outer, hole]

    def multi(polys):
        return b"".join([_struct.pack("<BII", 1, 6, len(polys))]
                        + [wkb_polygon(p) for p in polys])

    def multipoint(pts):
        return b"".join([_struct.pack("<BII", 1, 4, len(pts))]
                        + [wkb_point(x, y) for x, y in pts])

    def raw_polygon(rings):  # no ring closing, empty rings allowed
        out = [_struct.pack("<BII", 1, 3, len(rings))]
        for ring in rings:
            out.append(_struct.pack("<I", len(ring)))
            out += [_struct.pack("<dd", x, y) for x, y in ring]
        return b"".join(out)

    nan = float("nan")
    cases = [None, b"", b"\x01\x03", b"\x01\x63\x00\x00\x00",
             raw_polygon([]), raw_polygon([[]]),
             raw_polygon([[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], [], [(1, 1)]]),
             raw_polygon([[(0, 0), (4, 0), (4, 4), (0, 4)]]),  # unclosed
             wkb_linestring([]),
             wkb_polygon([[(0, 0), (nan, 0), (4, 4), (0, 4), (0, 0)]]),
             wkb_polygon([[(nan, nan), (4, 0), (4, 4), (nan, nan)]]),
             wkb_polygon([[(0, nan), (4, 0), (4, 4), (0, 4), (0, nan)]]),
             wkb_point(nan, nan), wkb_point(1.0, nan),
             _struct.pack(">BIdd", 0, 1, 1.5, 2.0),  # big-endian point
             ]
    for _ in range(60):
        cases.append(wkb_box(*rand_box()))
    for _ in range(40):
        cases.append(wkb_polygon([star(grid(-3, 3), grid(-3, 3), int(rng.randint(3, 12)))]))
    for _ in range(40):
        cases.append(wkb_polygon(holed()))
    for _ in range(40):
        parts = [holed() if rng.rand() < 0.5 else [star(grid(-3, 3), grid(-3, 3), 6)]
                 for _ in range(int(rng.randint(2, 4)))]
        cases.append(multi(parts))
    for _ in range(30):
        cases.append(wkb_point(grid(-6, 6), grid(-6, 6)))
        cases.append(wkb_linestring([(grid(-6, 6), grid(-6, 6)) for _ in range(int(rng.randint(1, 5)))]))
        cases.append(multipoint([(grid(-6, 6), grid(-6, 6)) for _ in range(3)]))
    for _ in range(20):
        cases.append(rng.bytes(int(rng.randint(1, 80))))
    for _ in range(10):  # horizontal edges with NaN ordinates mixed in
        x0, y0, x1, y1 = rand_box()
        cases.append(wkb_polygon([[(x0, y0), (x1, y0), (x1, nan), (x1, y1),
                                   (x0, y1), (x0, y0)]]))
    return cases


def test_point_in_rings_bit_identical_to_wkb_ray_cast(spark):
    """point_in_rings over ingest-derived rings decides exactly what the
    numpy ray cast decides over the WKB, for every (geometry, point) pair:
    holes, multipolygons, degenerate Point/LineString geometries, NULL and
    malformed WKB, points on vertices and edges, horizontal edges under
    ANSI mode, and NaN coordinates on either side."""
    rng = np.random.RandomState(20231117)
    geoms = _geometry_cases(rng)
    nan = float("nan")
    points = [(float(x) / 2, float(y) / 2) for x in range(-12, 13, 3) for y in range(-12, 13, 3)]
    points += [(float(rng.uniform(-7, 7)), float(rng.uniform(-7, 7))) for _ in range(20)]
    points += [(nan, 0.0), (0.0, nan), (nan, nan), (1.5, 2.0), (-0.0, 0.0), (4.0, 4.0)]
    assert len(geoms) >= 300 and len(points) >= 80

    gdf = derive_geometry(spark.createDataFrame(
        [(i, g) for i, g in enumerate(geoms)], "gid: long, geom_wkb: binary"))
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = gdf.select("gid", *[
            point_in_rings("geom_rings", x, y).alias(f"p{j}") for j, (x, y) in enumerate(points)
        ]).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    got = {(r["gid"], j): r[f"p{j}"] for r in rows for j in range(len(points))}
    want = {
        (i, j): bool(point_in_polygon_wkb(g, x, y))
        for i, g in enumerate(geoms) for j, (x, y) in enumerate(points)
    }
    assert sum(want.values()) > 500  # the cases hit, not only miss
    mismatches = [k for k in want if got[k] is not want[k]]
    assert not mismatches, [(geoms[i], points[j], want[(i, j)]) for i, j in mismatches[:5]]


def test_wkb_geometry_one_parse():
    """wkb_geometry returns wkb_bounds' box and the rings the refine reads."""
    w = wkb_polygon([[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], [(1, 1), (2, 1), (2, 2), (1, 1)]])
    bbox, rings = wkb_geometry(w)
    assert bbox == wkb_bounds(w)
    assert rings == [{"degenerate": False, "rings": [
        [0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0, 0.0, 0.0],
        [1.0, 1.0, 2.0, 1.0, 2.0, 2.0, 1.0, 1.0]]}]
    assert wkb_geometry(wkb_point(3.0, 4.0))[1] == [{"degenerate": True, "rings": [[3.0, 4.0]]}]
    assert wkb_geometry(None) == (None, None)
    assert wkb_geometry(b"\x01\x99\x00\x00\x00") == (None, None)


def test_box_wkb_udf_matches_python(spark):
    df = spark.createDataFrame([(1, -10.0, 20.0, -5.0, 25.0)], "id: long, a: double, b: double, c: double, d: double")
    out = df.select(make_box_wkb_udf()(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("w")).first()
    assert bytes(out["w"]) == wkb_box(-10.0, 20.0, -5.0, 25.0)


def test_mercator_roundtrip():
    for lon, lat in [(-100.0, 40.0), (0.0, 0.0), (179.0, -60.0)]:
        x, y = lonlat_to_mercator(lon, lat)
        lon2, lat2 = mercator_to_lonlat(x, y)
        assert lon2 == pytest.approx(lon, abs=1e-9)
        assert lat2 == pytest.approx(lat, abs=1e-9)
    # EPSG:3857 reference value: lon=1° → x ≈ 111319.49079327358
    x, _ = lonlat_to_mercator(1.0, 0.0)
    assert x == pytest.approx(111319.49079327358, rel=1e-12)


def test_reproject_point_dispatch():
    assert reproject_point(5, 6, 4326, 4326) == (5, 6)
    x, y = reproject_point(-100.0, 40.0, 4326, 3857)
    assert (x, y) == lonlat_to_mercator(-100.0, 40.0)
    with pytest.raises(ValueError):
        reproject_point(0, 0, 9999, 4326)


def test_reproject_udf(spark):
    df = spark.createDataFrame([(i, float(-120 + i), float(30 + i)) for i in range(5)], "id: long, lon: double, lat: double")
    ux, uy = make_reproject_udf(4326, 3857)
    rows = df.select("lon", "lat", ux(F.col("lon"), F.col("lat")).alias("x"), uy(F.col("lon"), F.col("lat")).alias("y")).collect()
    for r in rows:
        ex, ey = lonlat_to_mercator(r["lon"], r["lat"])
        assert r["x"] == pytest.approx(ex, rel=1e-12)
        assert r["y"] == pytest.approx(ey, rel=1e-12)


def test_validate_lonlat():
    validate_lonlat(-180, -90)
    with pytest.raises(ValueError):
        validate_lonlat(181, 0)
    with pytest.raises(ValueError):
        validate_lonlat(0, -91)


def test_multipolygon_and_big_endian():
    import struct

    # two disjoint boxes as a multipolygon (little-endian)
    p1 = wkb_box(0, 0, 1, 1)
    p2 = wkb_box(5, 5, 6, 6)
    mp = struct.pack("<BII", 1, 6, 2) + p1 + p2
    assert wkb_bounds(mp) == (0.0, 0.0, 6.0, 6.0)
    assert point_in_polygon_wkb(mp, 0.5, 0.5)
    assert point_in_polygon_wkb(mp, 5.5, 5.5)
    assert not point_in_polygon_wkb(mp, 3.0, 3.0)


def test_wkb_linestring_and_collections_tolerated():
    """LineString/MultiPoint/MultiLineString/GeometryCollection WKB must
    parse (bounds) and contribute no interior (containment) instead of
    raising and being silently dropped."""
    import struct

    import numpy as np

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        point_in_polygon_wkb,
        wkb_bounds,
        wkb_point,
    )

    def linestring(pts):
        out = [struct.pack("<BI", 1, 2), struct.pack("<I", len(pts))]
        out += [struct.pack("<dd", x, y) for x, y in pts]
        return b"".join(out)

    ls = linestring([(0.0, 0.0), (2.0, 1.0), (4.0, -1.0)])
    assert wkb_bounds(ls) == (0.0, -1.0, 4.0, 1.0)
    assert point_in_polygon_wkb(ls, 2.0, 1.0) is True      # vertex hit
    assert point_in_polygon_wkb(ls, 2.0, 0.0) is False     # no interior

    mp = b"".join(
        [struct.pack("<BI", 1, 4), struct.pack("<I", 2),
         wkb_point(1.0, 2.0), wkb_point(-3.0, 5.0)]
    )
    assert wkb_bounds(mp) == (-3.0, 2.0, 1.0, 5.0)
    assert point_in_polygon_wkb(mp, -3.0, 5.0) is True

    mls = b"".join(
        [struct.pack("<BI", 1, 5), struct.pack("<I", 2),
         linestring([(0.0, 0.0), (1.0, 1.0)]),
         linestring([(5.0, 5.0), (6.0, 7.0)])]
    )
    assert wkb_bounds(mls) == (0.0, 0.0, 6.0, 7.0)

    gc = b"".join(
        [struct.pack("<BI", 1, 7), struct.pack("<I", 2),
         wkb_point(9.0, 9.0),
         linestring([(0.0, 0.0), (1.0, 0.0)])]
    )
    assert wkb_bounds(gc) == (0.0, 0.0, 9.0, 9.0)
    # truly malformed bytes still degrade to None, never raise
    assert wkb_bounds(b"\x01\xff\xff") is None


def test_malformed_wkb_never_crashes_predicates():
    """The refine UDFs convert parse failures to refine-to-False via
    (ValueError, struct.error) — so the parser must only ever raise those
    on ARBITRARY bytes: truncated buffers, huge claimed counts (frombuffer
    must reject, never allocate), unknown types/endianness, and crafted
    deep GEOMETRYCOLLECTION nesting (bounded at depth 32; RecursionError
    would crash an executor task)."""
    import struct as _struct

    import numpy as np

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        point_in_polygon_wkb,
        polygons_intersect_wkb,
        wkb_bounds,
        wkb_polygon,
    )

    square = wkb_polygon([[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]])

    adversarial = [
        b"",
        b"\x01",
        b"\x01\x03\x00\x00",  # truncated header
        _struct.pack("<BI", 1, 3),  # polygon, no ring count
        _struct.pack("<BII", 1, 3, 0xFFFFFFFF),  # 4G rings claimed
        _struct.pack("<BIII", 1, 3, 1, 0xFFFFFFFF),  # 4G points claimed
        _struct.pack("<BI", 1, 99),  # unknown geometry type
        _struct.pack(">BI", 0, 3) + b"\x00" * 8,  # big-endian truncated
        # 2000-deep nested GEOMETRYCOLLECTION (each level 9 bytes): must
        # raise ValueError at the depth bound, not RecursionError
        _struct.pack("<BII", 1, 7, 1) * 2000,
    ]
    rng = np.random.RandomState(99)
    fuzz = [rng.bytes(int(rng.randint(1, 120))) for _ in range(300)]

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        wkb_area_centroid,
    )

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        wkb_length_npoints,
    )

    for w in adversarial + fuzz:
        # predicates must return a bool, never raise
        assert polygons_intersect_wkb(w, square) in (True, False)
        assert polygons_intersect_wkb(square, w) in (True, False)
        assert point_in_polygon_wkb(w, 1.0, 1.0) in (True, False)
        wkb_bounds(w)  # None or a tuple, never an exception
        # r8 kernels share the same never-raise contract
        area, cx, cy = wkb_area_centroid(w)
        assert area is None or isinstance(area, float)
        # r9: the linear-geometry walker too (its own typed traversal)
        ln, npts = wkb_length_npoints(w)
        assert ln is None or isinstance(ln, float)
        assert (ln is None) == (npts is None)


def test_mercator_roundtrip_randomized():
    """Forward→inverse identity over the full valid domain (web-mercator
    clips latitude at ±85.051129°): 2000 random points, 1e-9° tolerance
    (≈ 0.1 mm) — catches any drift in the hand-rolled ln/tan/atan/exp
    forms that three fixed points cannot."""
    import numpy as np

    rng = np.random.RandomState(31)
    lons = rng.uniform(-180.0, 180.0, 2000)
    lats = rng.uniform(-85.0, 85.0, 2000)
    for lon, lat in zip(lons, lats):
        x, y = lonlat_to_mercator(float(lon), float(lat))
        lon2, lat2 = mercator_to_lonlat(x, y)
        assert abs(lon2 - lon) < 1e-9
        assert abs(lat2 - lat) < 1e-9


def test_wkb_linestring_roundtrip_randomized():
    """Encode→walk vertex fidelity on random polylines: every coordinate
    (arbitrary float64, not just lattice values) must survive the codec
    bit-exactly, in document order, through LINESTRING, MULTILINESTRING,
    nested GEOMETRYCOLLECTION wrapping, and a hand-built BIG-ENDIAN
    linestring (the writers emit little-endian only, but the walker must
    read either byte order)."""
    import struct as _struct

    import numpy as np

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        wkb_linestring,
        wkb_linestrings,
        wkb_multilinestring,
        wkb_point,
        wkb_polygon,
    )

    rng = np.random.RandomState(1234)
    for _ in range(50):
        n_lines = int(rng.randint(1, 4))
        lines = [
            [tuple(rng.uniform(-1e6, 1e6, 2)) for _ in range(int(rng.randint(2, 9)))]
            for _ in range(n_lines)
        ]
        if n_lines == 1 and rng.rand() < 0.5:
            wkb = wkb_linestring(lines[0])
        else:
            wkb = wkb_multilinestring(lines)
        # wrap in a GEOMETRYCOLLECTION with non-linear distractors
        if rng.rand() < 0.5:
            wkb = (
                _struct.pack("<BII", 1, 7, 3)
                + wkb_point(*map(float, rng.uniform(-10, 10, 2)))
                + wkb
                + wkb_polygon([[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]])
            )
        got = wkb_linestrings(wkb)
        assert len(got) == n_lines
        for arr, pts in zip(got, lines):
            assert arr.shape == (len(pts), 2)
            for (gx, gy), (x, y) in zip(arr, pts):
                assert gx == x and gy == y  # bit-exact, not approx

    # big-endian LINESTRING, built by hand
    pts = [(1.5, -2.25), (3.75, 4.125), (-0.5, 0.0625)]
    be = _struct.pack(">BII", 0, 2, len(pts)) + b"".join(
        _struct.pack(">dd", x, y) for x, y in pts
    )
    (arr,) = wkb_linestrings(be)
    assert [tuple(p) for p in arr] == pts
