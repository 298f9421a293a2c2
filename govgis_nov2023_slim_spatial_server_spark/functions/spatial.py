"""Spatial primitives over WKB ``binary`` geometry columns.

Replaces the reference's PostGIS surface: the geometry codec (reference
backend/load_data.py:152-168), the point-in-polygon predicate
``ST_Intersects(geom, ST_SetSRID(ST_MakePoint(lon,lat),4326))`` (reference
backend/models.py:167-174), the GiST R-tree index (reference
backend/load_data.py:89-99), and pyproj point reprojection (reference
backend/models.py:37-42).

shapely/pyproj are not available in this environment, so the WKB codec,
ray-casting point-in-polygon, and EPSG:3857 web-mercator math are
implemented directly from their public specifications (OGC SFA WKB layout;
even-odd ray casting; EPSG spherical-mercator formulas). All Python
boundaries are Arrow-batched (pandas or Arrow) UDFs.

Scale design (SURVEY.md §4.3.1): Spark has no secondary indexes, so the
R-tree's coarse-filter role is played by a derived ``bbox`` struct column —
a cheap native ``xmin≤lon≤xmax AND ymin≤lat≤ymax`` predicate that (a) is
evaluated JVM-side, and (b) generates Parquet row-group min/max stats so
file/row-group skipping prunes the scan itself. The exact even-odd ray cast
then refines only the survivors (filter-and-refine), also natively:
``point_in_rings`` runs over the ``geom_rings`` column that ingest derives
from the WKB in the same Python pass as ``bbox`` (``wkb_geometry``), so a
point query never crosses into Python.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import BooleanType

from ..schemas import BBOX_SCHEMA, GEOMETRY_SCHEMA

# ---------------------------------------------------------------------------
# WKB codec (OGC Simple Features; EWKB SRID flag tolerated on read)
# ---------------------------------------------------------------------------

_WKB_POINT = 1
_WKB_LINESTRING = 2
_WKB_POLYGON = 3
_WKB_MULTIPOINT = 4
_WKB_MULTILINESTRING = 5
_WKB_MULTIPOLYGON = 6
_WKB_GEOMETRYCOLLECTION = 7
_EWKB_SRID_FLAG = 0x20000000
_EWKB_Z_FLAG = 0x80000000
_EWKB_M_FLAG = 0x40000000


def wkb_polygon(rings: list[list[tuple[float, float]]]) -> bytes:
    """Encode a (closed-ring) polygon as little-endian WKB."""
    out = [struct.pack("<BI", 1, _WKB_POLYGON), struct.pack("<I", len(rings))]
    for ring in rings:
        pts = list(ring)
        if pts[0] != pts[-1]:
            pts.append(pts[0])
        out.append(struct.pack("<I", len(pts)))
        for x, y in pts:
            out.append(struct.pack("<dd", x, y))
    return b"".join(out)


def wkb_box(xmin: float, ymin: float, xmax: float, ymax: float) -> bytes:
    """Axis-aligned rectangle polygon (CCW exterior ring)."""
    return wkb_polygon(
        [[(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]]
    )


def wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, _WKB_POINT, x, y)


def wkb_linestring(pts: list[tuple[float, float]]) -> bytes:
    """Encode a polyline as little-endian WKB LINESTRING."""
    out = [struct.pack("<BII", 1, _WKB_LINESTRING, len(pts))]
    for x, y in pts:
        out.append(struct.pack("<dd", x, y))
    return b"".join(out)


def wkb_multilinestring(lines: list[list[tuple[float, float]]]) -> bytes:
    """Encode a list of polylines as little-endian WKB MULTILINESTRING."""
    out = [struct.pack("<BII", 1, _WKB_MULTILINESTRING, len(lines))]
    for pts in lines:
        out.append(wkb_linestring(pts))
    return b"".join(out)


def wkb_multipolygon(polys: list[list[list[tuple[float, float]]]]) -> bytes:
    """Encode a list of polygons (each a [shell, *holes] ring list) as
    little-endian WKB MULTIPOLYGON — the output side of the codec
    (operators/dissolve.py emits dissolved union geometry through it)."""
    out = [struct.pack("<BII", 1, _WKB_MULTIPOLYGON, len(polys))]
    for rings in polys:
        out.append(wkb_polygon(rings))
    return b"".join(out)


def _read_header(buf: memoryview, off: int) -> tuple[str, int, int]:
    """Return (endianness char, base geometry type, new offset)."""
    if off >= len(buf):  # buf[off] would raise IndexError, which the
        # refine UDFs' (ValueError, struct.error) handlers don't convert
        raise ValueError("truncated WKB: missing byte-order byte")
    byte_order = buf[off]
    endian = "<" if byte_order == 1 else ">"
    (gtype,) = struct.unpack_from(endian + "I", buf, off + 1)
    off += 5
    if gtype & _EWKB_SRID_FLAG:
        off += 4  # skip SRID
    if gtype & (_EWKB_Z_FLAG | _EWKB_M_FLAG):
        raise ValueError("Z/M dimensions not supported")
    base = gtype & 0xFFFF
    if base > 1000:  # ISO WKB 3D/4D encodings (1001 etc.)
        raise ValueError("ISO WKB Z/M not supported")
    return endian, base, off


def _parse_rings(buf: memoryview, off: int, endian: str) -> tuple[list[np.ndarray], int]:
    (nrings,) = struct.unpack_from(endian + "I", buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        arr = np.frombuffer(buf, dtype=np.dtype(endian + "f8"), count=npts * 2, offset=off)
        rings.append(arr.reshape(npts, 2))
        off += npts * 16
    return rings, off


def _parse_points(buf: memoryview, off: int, endian: str) -> tuple[np.ndarray, int]:
    (npts,) = struct.unpack_from(endian + "I", buf, off)
    off += 4
    arr = np.frombuffer(buf, dtype=np.dtype(endian + "f8"), count=npts * 2, offset=off)
    return arr.reshape(npts, 2), off + npts * 16


def _parse_geom(
    buf: memoryview, off: int, depth: int = 0
) -> tuple[list[list[np.ndarray]], int]:
    """Parse one geometry at ``off`` → (polygons, new offset). Non-areal
    geometries (Point/LineString and their multis) become degenerate
    "polygons" — an UNCLOSED vertex array: correct for bounds, no interior
    for containment.

    ``depth`` bounds GEOMETRYCOLLECTION nesting: ~9 bytes per level of
    crafted WKB would otherwise drive Python recursion past its limit,
    and RecursionError is NOT in the (ValueError, struct.error) set the
    refine UDFs convert to refine-to-False — malformed input must never
    crash an executor task. Real data nests 1-2 levels; 32 is generous."""
    if depth > 32:
        raise ValueError("WKB geometry nesting exceeds depth 32")
    endian, base, off = _read_header(buf, off)
    if base == _WKB_POINT:
        x, y = struct.unpack_from(endian + "dd", buf, off)
        return [[np.array([[x, y]])]], off + 16
    if base == _WKB_LINESTRING:
        pts, off = _parse_points(buf, off, endian)
        return [[pts]], off
    if base == _WKB_POLYGON:
        rings, off = _parse_rings(buf, off, endian)
        return [rings], off
    if base in (_WKB_MULTIPOINT, _WKB_MULTILINESTRING, _WKB_MULTIPOLYGON,
                _WKB_GEOMETRYCOLLECTION):
        (ngeom,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        polys: list[list[np.ndarray]] = []
        for _ in range(ngeom):
            sub, off = _parse_geom(buf, off, depth + 1)
            polys.extend(sub)
        return polys, off
    raise ValueError(f"unsupported WKB geometry type {base}")


def _walk_linestrings(
    buf: memoryview, off: int, depth: int = 0
) -> tuple[list[np.ndarray], int]:
    """TYPE-AWARE traversal collecting only (MULTI)LINESTRING vertex arrays
    in document order — `_parse_geom` deliberately erases types (everything
    becomes bounds/containment "polygons"), but ST_Length semantics need
    them: PostGIS counts only linear components (a polygon has ST_Length 0;
    perimeters are ST_Perimeter's job). Non-linear members are still parsed
    to advance the offset correctly. Same depth cap as `_parse_geom`."""
    if depth > 32:
        raise ValueError("WKB geometry nesting exceeds depth 32")
    endian, base, off = _read_header(buf, off)
    if base == _WKB_POINT:
        if off + 16 > len(buf):
            raise ValueError("truncated WKB point")
        return [], off + 16
    if base == _WKB_LINESTRING:
        pts, off = _parse_points(buf, off, endian)
        return [pts], off
    if base == _WKB_POLYGON:
        _, off = _parse_rings(buf, off, endian)
        return [], off
    if base in (_WKB_MULTIPOINT, _WKB_MULTILINESTRING, _WKB_MULTIPOLYGON,
                _WKB_GEOMETRYCOLLECTION):
        (ngeom,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        lines: list[np.ndarray] = []
        for _ in range(ngeom):
            sub, off = _walk_linestrings(buf, off, depth + 1)
            lines.extend(sub)
        return lines, off
    raise ValueError(f"unsupported WKB geometry type {base}")


def wkb_linestrings(wkb: bytes) -> list[np.ndarray]:
    """All linear components of a 2-D WKB geometry, in document order."""
    lines, _ = _walk_linestrings(memoryview(wkb), 0)
    return lines


def wkb_length_npoints(
    wkb: bytes | None,
) -> tuple[float | None, int | None]:
    """ST_Length + linear vertex count over a WKB column value.

    Length is the SEQUENTIAL sum, component order then segment order, of
    per-segment sqrt(dx²+dy²) — IEEE sqrt is correctly rounded (not a libm
    estimate) and double +/*/− are exact-rounded, so on identical inputs
    the fold is bit-identical to a DuckDB `list_reduce` over the same
    per-segment list (the oracle contract of spatial_linestring_length;
    same discipline as the ewma fold). Malformed bytes / NULL → all-NULL,
    the codec's in-band error contract."""
    if wkb is None:
        return None, None
    try:
        lines = wkb_linestrings(bytes(wkb))
    except (ValueError, struct.error):
        return None, None
    total = 0.0
    npts = 0
    for pts in lines:
        npts += int(pts.shape[0])
        for j in range(pts.shape[0] - 1):
            dx = float(pts[j + 1, 0]) - float(pts[j, 0])
            dy = float(pts[j + 1, 1]) - float(pts[j, 1])
            total += math.sqrt(dx * dx + dy * dy)
    return total, npts


def parse_wkb_polygons(wkb: bytes) -> list[list[np.ndarray]]:
    """Parse any 2-D OGC WKB geometry → list of polygons, each a list of
    (n,2) ring arrays (ring 0 = exterior). Point/LineString (and multi/
    collection members) parse as degenerate unclosed "polygons": their
    coordinates contribute to ``wkb_bounds``, and ``point_in_polygon_wkb``
    gives them no interior (vertex-equality only) — ST_Intersects parity
    for the cases a filter-and-refine pipeline meets (VERDICT r1 missing
    #4: previously these raised and were silently filtered)."""
    polys, _ = _parse_geom(memoryview(wkb), 0)
    return polys


def wkb_bounds(wkb: bytes | None) -> tuple[float, float, float, float] | None:
    if wkb is None:
        return None
    try:
        polys = parse_wkb_polygons(bytes(wkb))
    except (ValueError, struct.error):
        return None
    return _polys_bounds(polys)


def _polys_bounds(
    polys: list[list[np.ndarray]],
) -> tuple[float, float, float, float] | None:
    rings = [r for poly in polys for r in poly if r.shape[0] > 0]
    if not rings:  # parseable but empty (0-ring polygon, empty collection)
        return None
    pts = np.vstack(rings)
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


def polys_rings(polys: list[list[np.ndarray]]) -> list[dict]:
    """PARSED polygons → the ``geom_rings`` value (schemas.GEOM_RINGS_TYPE):
    one ``{degenerate, rings}`` entry per polygon, each ring a flat
    ``[x0, y0, x1, y1, …]`` list, holding exactly what
    ``_polys_contain_point`` reads. A degenerate entry (Point/LineString,
    or an unclosed exterior) keeps only its exterior vertices, the only
    ones vertex hits test. Entries and rings that can add no hit are
    dropped — polygons without rings, degenerate entries without vertices,
    rings of fewer than two points (no edge) — so every kept ring holds at
    least one vertex, and at least one edge when not degenerate, which is
    what ``point_in_rings`` indexes."""
    out = []
    for rings in polys:
        if not rings:
            continue
        ex = rings[0]
        degenerate = ex.shape[0] < 4 or not (
            ex[0, 0] == ex[-1, 0] and ex[0, 1] == ex[-1, 1]
        )
        if degenerate:
            if ex.shape[0]:
                out.append({"degenerate": True, "rings": [ex.ravel().tolist()]})
            continue
        out.append({
            "degenerate": False,
            "rings": [r.ravel().tolist() for r in rings if r.shape[0] >= 2],
        })
    return out


def wkb_geometry(
    wkb: bytes | None,
) -> tuple[tuple[float, float, float, float] | None, list[dict] | None]:
    """One parse → (``bbox``, ``geom_rings``): the two columns ingest
    derives from a WKB value. NULL or malformed WKB → (None, None), which
    prunes at the bbox and refines to False."""
    if wkb is None:
        return None, None
    try:
        polys = parse_wkb_polygons(bytes(wkb))
    except (ValueError, struct.error):
        return None, None
    return _polys_bounds(polys), polys_rings(polys)


def point_in_polygon_wkb(wkb: bytes | None, lon: float, lat: float) -> bool:
    """Even-odd ray casting over all rings (holes handled naturally);
    boundary-inclusive on vertices/edges within float tolerance is NOT
    guaranteed — matches ST_Intersects for interior points, which is the
    reference's actual use (query points vs. extent rectangles)."""
    if wkb is None:
        return False
    try:
        polys = parse_wkb_polygons(bytes(wkb))
    except (ValueError, struct.error):
        return False
    return _polys_contain_point(polys, lon, lat)


def _polys_contain_point(
    polys: list[list[np.ndarray]], lon: float, lat: float
) -> bool:
    """Even-odd ray cast over PARSED polygons (shared by the point refine
    and the polygon×polygon containment half)."""
    for rings in polys:
        if not rings:
            continue
        ex = rings[0]
        degenerate = ex.shape[0] < 4 or not (
            ex[0, 0] == ex[-1, 0] and ex[0, 1] == ex[-1, 1]
        )
        if degenerate:  # Point/LineString: no interior; vertex hits only
            if ((ex[:, 0] == lon) & (ex[:, 1] == lat)).any():
                return True
            continue
        inside = False
        for ring in rings:
            xs, ys = ring[:, 0], ring[:, 1]
            x1, y1 = xs[:-1], ys[:-1]
            x2, y2 = xs[1:], ys[1:]
            crosses = (y1 > lat) != (y2 > lat)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
            hits = crosses & (lon < xint)
            if hits.sum() % 2 == 1:
                inside = not inside
        if inside:
            return True
    return False


def points_in_polys(
    polys: list[list[np.ndarray]], lons: np.ndarray, lats: np.ndarray
) -> np.ndarray:
    """Vectorized ``_polys_contain_point``: the SAME even-odd ray-cast
    decisions for a whole point batch against one parsed geometry (the
    per-(point, edge) float operations are identical to the scalar path,
    just broadcast — bit-for-bit agreement is property-tested). This is
    the refine kernel of the points-in-polygons join, where one polygon
    meets many candidate points per cell and a per-point Python loop would
    dominate the stage."""
    out = np.zeros(lons.shape[0], dtype=bool)
    for rings in polys:
        if not rings:
            continue
        ex = rings[0]
        degenerate = ex.shape[0] < 4 or not (
            ex[0, 0] == ex[-1, 0] and ex[0, 1] == ex[-1, 1]
        )
        if degenerate:  # Point/LineString: no interior; vertex hits only
            for vx, vy in ex:
                out |= (lons == vx) & (lats == vy)
            continue
        inside = np.zeros(lons.shape[0], dtype=bool)
        for ring in rings:
            xs, ys = ring[:, 0], ring[:, 1]
            x1, y1 = xs[:-1][None, :], ys[:-1][None, :]
            x2, y2 = xs[1:][None, :], ys[1:][None, :]
            n_edges = max(1, x1.shape[1])
            # bound the (points × edges) broadcast temporaries: a hot
            # polygon can meet 100k+ candidate points in one Arrow batch,
            # and a detailed ring has 1000+ edges — unchunked that is an
            # O(B·E) float64 allocation per operand (≈1 GB at 100k×1000).
            # ~2M cells per chunk keeps peak memory < ~50 MB with
            # identical per-cell arithmetic.
            step = max(1, 2_000_000 // n_edges)
            for lo in range(0, lons.shape[0], step):
                hi = lo + step
                lat_c = lats[lo:hi, None]
                lon_c = lons[lo:hi, None]
                crosses = (y1 > lat_c) != (y2 > lat_c)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = x1 + (lat_c - y1) * (x2 - x1) / (y2 - y1)
                hits = crosses & (lon_c < xint)
                inside[lo:hi] ^= (hits.sum(axis=1) % 2) == 1
        out |= inside
    return out


def _ring_segments_intersect(ra: np.ndarray, rb: np.ndarray) -> bool:
    """Any segment of ring ``ra`` intersects any segment of ``rb``
    (touching counts, per ST_Intersects). Vectorized all-pairs
    orientation test with collinear/on-segment handling: segments AB and
    CD intersect iff the strict orientation signs straddle on both, or a
    collinear endpoint lies within the other segment's extent."""
    if ra.shape[0] < 2 or rb.shape[0] < 2:
        return False
    a1 = ra[:-1, None, :]
    a2 = ra[1:, None, :]
    b1 = rb[None, :-1, :]
    b2 = rb[None, 1:, :]

    def _orient(p, q, r):
        return (q[..., 0] - p[..., 0]) * (r[..., 1] - p[..., 1]) - (
            q[..., 1] - p[..., 1]
        ) * (r[..., 0] - p[..., 0])

    def _on_seg(p, q, r):
        # given collinear p,q,r: r within [p,q]'s bbox
        return (
            (np.minimum(p[..., 0], q[..., 0]) <= r[..., 0])
            & (r[..., 0] <= np.maximum(p[..., 0], q[..., 0]))
            & (np.minimum(p[..., 1], q[..., 1]) <= r[..., 1])
            & (r[..., 1] <= np.maximum(p[..., 1], q[..., 1]))
        )

    d1 = _orient(a1, a2, b1)
    d2 = _orient(a1, a2, b2)
    d3 = _orient(b1, b2, a1)
    d4 = _orient(b1, b2, a2)
    proper = (np.sign(d1) * np.sign(d2) < 0) & (np.sign(d3) * np.sign(d4) < 0)
    touch = (
        ((d1 == 0) & _on_seg(a1, a2, b1))
        | ((d2 == 0) & _on_seg(a1, a2, b2))
        | ((d3 == 0) & _on_seg(b1, b2, a1))
        | ((d4 == 0) & _on_seg(b1, b2, a2))
    )
    return bool((proper | touch).any())


def _ring_is_rect(r: np.ndarray) -> bool:
    """True iff the ring is a NON-DEGENERATE axis-aligned rectangle
    boundary: 5 points, closed, edges alternating horizontal/vertical
    (either order, either winding), both side lengths nonzero. For such a
    ring the even-odd point set is exactly the filled bbox, so
    rect×rect ST_Intersects reduces to interval overlap — the provably
    exact fast path below. The alternation + nonzero-length requirements
    reject spike/retrace rings (e.g. h,v,v,h traversals), whose even-odd
    interior is NOT the bbox; anything rejected takes the general path.
    Scalar comparisons only: this runs per candidate pair, and numpy
    temporaries are what make the general path ~100 µs/pair."""
    if r.shape[0] != 5:
        return False
    x0, y0 = r[0, 0], r[0, 1]
    x1, y1 = r[1, 0], r[1, 1]
    x2, y2 = r[2, 0], r[2, 1]
    x3, y3 = r[3, 0], r[3, 1]
    if x0 != r[4, 0] or y0 != r[4, 1]:
        return False
    if y0 == y1 and x1 == x2 and y2 == y3 and x3 == x0:
        return x0 != x1 and y1 != y2  # h,v,h,v
    if x0 == x1 and y1 == y2 and x2 == x3 and y3 == y0:
        return y0 != y1 and x1 != x2  # v,h,v,h
    return False


def _poly_bounds(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    # no vstack copy for the dominant single-ring case (this runs per
    # candidate pair in the refine loop)
    pts = rings[0] if len(rings) == 1 else np.vstack(rings)
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


def polygons_intersect(
    pa: list[list[np.ndarray]], pb: list[list[np.ndarray]]
) -> bool:
    """ST_Intersects for two parsed areal geometries (holes and multi
    parts included): true iff any boundary segments meet, or one contains
    a representative vertex of the other (even-odd ray cast, so a
    geometry sitting wholly inside the other's HOLE correctly reports
    false). Non-convexity is free — both halves are ring-wise."""
    for ra in pa:
        # drop zero-point rings (and polys whose rings are all empty):
        # _poly_bounds on a zero-size stack raises, and ra[0][0] below
        # needs a real representative vertex — degenerate WKB must refine
        # to False, not crash the UDF
        ra = [r for r in ra if r.shape[0] > 0]
        if not ra:
            continue
        bxa = _poly_bounds(ra)
        for rb in pb:
            rb = [r for r in rb if r.shape[0] > 0]
            if not rb:
                continue
            bxb = _poly_bounds(rb)
            if (
                bxa[0] > bxb[2]
                or bxb[0] > bxa[2]
                or bxa[1] > bxb[3]
                or bxb[1] > bxa[3]
            ):
                continue
            # rect×rect fast path: both sides a single non-degenerate
            # axis-aligned rectangle ring ⇒ the even-odd point set IS the
            # filled bbox, and the bboxes overlap (checked above) ⇒
            # intersect. Exact, not approximate — and ~100 µs/pair cheaper
            # than the segment/containment machinery, which dominates
            # store-vs-store joins where geometries are rectangle tiles.
            if (
                len(ra) == 1
                and len(rb) == 1
                and _ring_is_rect(ra[0])
                and _ring_is_rect(rb[0])
            ):
                return True
            for ring_a in ra:
                for ring_b in rb:
                    if _ring_segments_intersect(ring_a, ring_b):
                        return True
            # boundaries disjoint: containment decides (check one vertex
            # of each against the other's full ring set)
            va = ra[0][0]
            vb = rb[0][0]
            if _polys_contain_point([ra], float(vb[0]), float(vb[1])):
                return True
            if _polys_contain_point([rb], float(va[0]), float(va[1])):
                return True
    return False


def polygons_area_centroid(
    polys: list[list[np.ndarray]],
) -> tuple[float, float | None, float | None]:
    """Planar area and centroid — ST_Area / ST_Centroid parity (PostGIS
    areal semantics: ring 0 of each polygon is the shell, later rings are
    holes subtracted from it; a MULTIPOLYGON sums its members).

    Shoelace per ring: 2A = Σ(xᵢyᵢ₊₁ − xᵢ₊₁yᵢ), centroid numerators
    Sx = Σ(xᵢ+xᵢ₊₁)(xᵢyᵢ₊₁ − xᵢ₊₁yᵢ) (Sy likewise), cx = Sx / (3·2A).
    Each ring's contribution is orientation-normalized (shell → +|·|,
    hole → −|·|) so encoded winding order doesn't matter.

    Exactness contract (what makes the DuckDB oracle entries hashable):
    on coordinates that are dyadic rationals with few fraction bits
    (the catalog's key-derived 0.25-multiple lattice, and any integer
    grid), every product and sum here is exactly representable in
    float64, so the sums are order-independent and bit-identical to any
    other correct evaluation; the two final divisions are single IEEE
    ops. Verified against an exact Fraction-arithmetic reference in
    tests/test_geo_analytics.py (and fuzz-covered via wkb_area_centroid
    in tests/test_spatial.py).

    Degenerate input (unclosed point/linestring pseudo-rings, spike
    rings, empty geometry) yields zero area and a NULL centroid.
    """
    a2_total = sx_total = sy_total = 0.0
    for rings in polys:
        for i, r in enumerate(rings):
            if r.shape[0] < 4 or not np.array_equal(r[0], r[-1]):
                continue  # not a closed ring: no interior, no area
            if r.shape[0] <= 33:
                # small-ring fast path: numpy's per-call overhead dwarfs a
                # ≤32-edge Python loop (24 µs → ~3 µs per typical parcel
                # polygon — the same small-geometry economics as the
                # rect×rect intersect fast path). On the exact-dyadic
                # inputs the oracle contract covers, sequential and
                # pairwise summation are both exact, hence identical.
                pts = r.tolist()
                a2 = sx = sy = 0.0
                px, py = pts[0]
                for qx, qy in pts[1:]:
                    cr = px * qy - qx * py
                    a2 += cr
                    sx += (px + qx) * cr
                    sy += (py + qy) * cr
                    px, py = qx, qy
            else:
                x, y = r[:-1, 0], r[:-1, 1]
                x1 = np.roll(x, -1)
                y1 = np.roll(y, -1)
                cross = x * y1 - x1 * y
                a2 = float(cross.sum())
                sx = float(((x + x1) * cross).sum())
                sy = float(((y + y1) * cross).sum())
            is_shell = i == 0
            if (a2 < 0.0) == is_shell:  # normalize: shell +, hole −
                a2, sx, sy = -a2, -sx, -sy
            a2_total += a2
            sx_total += sx
            sy_total += sy
    if a2_total == 0.0:
        return 0.0, None, None
    return a2_total / 2.0, sx_total / (3.0 * a2_total), sy_total / (3.0 * a2_total)


def wkb_area_centroid(
    wkb: bytes | None,
) -> tuple[float | None, float | None, float | None]:
    """ST_Area + ST_Centroid over a WKB column value; malformed bytes and
    NULL yield an all-NULL row (same in-band error contract as the refine
    predicates — never a worker crash)."""
    if wkb is None:
        return None, None, None
    try:
        polys = parse_wkb_polygons(bytes(wkb))
    except (ValueError, struct.error):
        return None, None, None
    area, cx, cy = polygons_area_centroid(polys)
    return area, cx, cy


def polygons_intersect_wkb(wa: bytes | None, wb: bytes | None) -> bool:
    """Exact ST_Intersects(polygonA, polygonB) over WKB — the refine step
    after a bbox-overlap join (filter-and-refine; this never sees pairs
    the coarse bbox join already rejected)."""
    if wa is None or wb is None:
        return False
    try:
        pa = parse_wkb_polygons(bytes(wa))
        pb = parse_wkb_polygons(bytes(wb))
    except (ValueError, struct.error):
        return False
    return polygons_intersect(pa, pb)


# ---------------------------------------------------------------------------
# Spark column functions
# ---------------------------------------------------------------------------


def wkb_geometry_udf():
    """Arrow UDF: WKB binary → struct<bbox, geom_rings> (ingest-time
    derivation of both the pruning and the refine column, one parse per
    row, ``wkb_geometry``). An Arrow rather than a pandas UDF because the
    pandas conversion turns every NaN into NULL: a NaN ring coordinate
    must reach ``point_in_rings`` as NaN. The bbox keeps that NaN → NULL
    rule explicitly."""
    out_type = to_arrow_type(GEOMETRY_SCHEMA)

    @arrow_udf(GEOMETRY_SCHEMA)
    def _geometry(wkbs: pa.Array) -> pa.Array:
        out = []
        for w in wkbs.to_pylist():
            b, rings = wkb_geometry(w)
            bounds = [None if v is None or math.isnan(v) else v for v in b or (None,) * 4]
            out.append({"bbox": dict(zip(BBOX_SCHEMA.names, bounds)), "geom_rings": rings})
        return pa.array(out, type=out_type)

    return _geometry


def make_box_wkb_udf():
    """pandas UDF: four double columns (xmin,ymin,xmax,ymax) → rectangle
    polygon WKB. Used by fixtures/tests to build real WKB geometry from
    arithmetic bounds so the full codec path is exercised."""
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def _box(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if any(v is None or (isinstance(v, float) and math.isnan(v)) for v in (a, b, c, d))
                else wkb_box(float(a), float(b), float(c), float(d))
                for a, b, c, d in zip(xmin, ymin, xmax, ymax)
            ],
            dtype=object,
        )

    return _box


def make_points_in_polys_udf():
    """pandas UDF: (geometry WKB, lon, lat) columns → ST_Contains boolean.
    The refine step of the points-in-polygons join: rows are grouped by
    geometry within each Arrow batch (one parse per distinct WKB — the
    blocked join delivers many points per polygon) and each group's points
    are ray-cast in one vectorized call. Malformed WKB → False, the same
    in-band contract as the other refine predicates."""

    @pandas_udf(BooleanType())
    def _contains(wkbs: pd.Series, lons: pd.Series, lats: pd.Series) -> pd.Series:
        out = np.zeros(len(wkbs), dtype=bool)
        lon_arr = lons.to_numpy(dtype=np.float64, na_value=np.nan)
        lat_arr = lats.to_numpy(dtype=np.float64, na_value=np.nan)
        groups: dict[bytes, list[int]] = {}
        for i, w in enumerate(wkbs):
            if w is not None:
                groups.setdefault(bytes(w), []).append(i)
        for w, idxs in groups.items():
            try:
                polys = parse_wkb_polygons(w)
            except (ValueError, struct.error):
                continue
            ii = np.asarray(idxs)
            out[ii] = points_in_polys(polys, lon_arr[ii], lat_arr[ii])
        return pd.Series(out)

    return _contains


def make_area_centroid_udf():
    """pandas UDF: WKB binary → struct<area double, cx double, cy double>
    (ST_Area / ST_Centroid in one parse — a query computing both should
    not decode the geometry twice)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [
            StructField("area", DoubleType(), True),
            StructField("cx", DoubleType(), True),
            StructField("cy", DoubleType(), True),
        ]
    )

    @pandas_udf(schema)
    def _area_centroid(wkbs: pd.Series) -> pd.DataFrame:
        n = len(wkbs)
        areas = np.full(n, np.nan, dtype=np.float64)
        cxs = np.full(n, np.nan, dtype=np.float64)
        cys = np.full(n, np.nan, dtype=np.float64)
        for i, w in enumerate(wkbs):
            a, cx, cy = wkb_area_centroid(w)
            if a is not None:
                areas[i] = a
            if cx is not None:
                cxs[i] = cx
            if cy is not None:
                cys[i] = cy
        return pd.DataFrame({"area": areas, "cx": cxs, "cy": cys})

    return _area_centroid


def _sql_double(x: float) -> str:
    """A double as Spark SQL text that parses back to the same bits:
    ``repr`` is the shortest round-tripping decimal and the ``D`` suffix
    parses it as a double (correctly rounded), not a decimal."""
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def bbox_contains_point_sql(bbox: str, lon: float, lat: float) -> str:
    """Native coarse filter — the GiST-index replacement — as SQL text:
    four double comparisons, pushed down to the Parquet scan for min/max
    row-group skipping."""
    x, y = _sql_double(float(lon)), _sql_double(float(lat))
    b = f"`{bbox}`"
    return f"{b}.xmin <= {x} AND {x} <= {b}.xmax AND {b}.ymin <= {y} AND {y} <= {b}.ymax"


def bbox_contains_point(bbox: str, lon: float, lat: float) -> Column:
    """``bbox_contains_point_sql`` as a Column: one Py4J call to build."""
    return F.expr(bbox_contains_point_sql(bbox, lon, lat))


def point_in_rings_sql(rings: str, lon: float, lat: float) -> str:
    """Exact refinement ST_Intersects(geom, point) as native higher-order
    functions over a ``geom_rings`` column (``polys_rings``): the
    decisions of ``_polys_contain_point``, bit for bit.

    Per polygon entry: a degenerate one hits on an exact vertex match; any
    other is inside when its edge crossings, summed over all its rings,
    are odd (the per-ring parity toggles of the numpy form, added up).
    Each edge (x1, y1) → (x2, y2) repeats the numpy float operations in
    the same order — ``(y1 > lat) != (y2 > lat)``, then
    ``lon < x1 + (lat − y1)·(x2 − x1) / (y2 − y1)`` — with two guards:

    - the division runs only on a crossing edge, where y1 ≠ y2, so a
      horizontal edge cannot raise DIVIDE_BY_ZERO under ANSI mode;
    - the result keeps numpy's NaN semantics. Spark orders NaN above every
      double and treats NaN = NaN as true, where numpy compares False. So
      ``lon < xint`` is ``lon < nanvl(xint, lon)`` (False on a NaN xint),
      and a vertex match also requires a non-NaN point. The crossing test
      needs no guard: a NaN y1 or y2 makes xint NaN, so such an edge never
      hits whichever way its crossing test goes.

    NULL rings (NULL or malformed WKB) refine to False."""
    x, y = _sql_double(float(lon)), _sql_double(float(lat))
    vertex_hit = (
        f"exists(sequence(0, size(p.rings[0]) - 2, 2), i -> "
        f"p.rings[0][i] = {x} AND p.rings[0][i + 1] = {y} "
        f"AND NOT isnan({x}) AND NOT isnan({y}))"
    )
    xint = f"r[i] + ({y} - r[i + 1]) * (r[i + 2] - r[i]) / (r[i + 3] - r[i + 1])"
    crosses = f"(r[i + 1] > {y}) != (r[i + 3] > {y})"
    crossings = (
        f"size(filter(sequence(0, size(r) - 4, 2), i -> "
        f"CASE WHEN {crosses} THEN {x} < nanvl({xint}, {x}) ELSE false END))"
    )
    return (
        f"coalesce(exists(`{rings}`, p -> CASE WHEN p.degenerate THEN {vertex_hit} "
        f"ELSE aggregate(p.rings, 0, (n, r) -> n + {crossings}) % 2 = 1 END), false)"
    )


def point_in_rings(rings: str, lon: float, lat: float) -> Column:
    """``point_in_rings_sql`` as a Column: one Py4J call to build."""
    return F.expr(point_in_rings_sql(rings, lon, lat))


def make_polys_intersect_udf():
    """Exact refinement for polygon×polygon joins: Arrow-batched pandas
    UDF over TWO WKB columns. Runs after the coarse bbox/grid join, so
    per-row cost is paid only on candidate pairs.

    Parse results are memoized PER BATCH: in a blocked join every
    geometry appears in as many candidate rows as it has cell partners
    (a hot cell repeats each member hundreds of times), so re-parsing
    per pair is pure waste; batch scope (10k rows by default) bounds the
    memo's memory without any eviction machinery. The
    (ValueError, struct.error) → False contract of
    ``polygons_intersect_wkb`` is preserved: unparseable bytes memoize a
    False sentinel and the pair refines to False."""

    @pandas_udf(BooleanType())
    def _intersects(wa: pd.Series, wb: pd.Series) -> pd.Series:
        cache: dict = {}

        def _parsed(w):
            if w is None:
                return None
            b = bytes(w)
            p = cache.get(b)
            if p is None:
                try:
                    p = parse_wkb_polygons(b)
                except (ValueError, struct.error):
                    p = False
                cache[b] = p
            return p

        out = np.zeros(len(wa), dtype=bool)
        for i, (a, b) in enumerate(zip(wa, wb)):
            pa = _parsed(a)
            pb = _parsed(b)
            if pa and pb:
                out[i] = polygons_intersect(pa, pb)
        return pd.Series(out)

    return _intersects


def bboxes_overlap(a: Column, b: Column) -> Column:
    """Rectangle-overlap join predicate (range join; used by spatial joins)."""
    return (
        (a["xmin"] <= b["xmax"])
        & (b["xmin"] <= a["xmax"])
        & (a["ymin"] <= b["ymax"])
        & (b["ymin"] <= a["ymax"])
    )


def zorder_key(
    lon: Column,
    lat: Column,
    bits: int = 16,
    lon_range: tuple[float, float] = (-180.0, 180.0),
    lat_range: tuple[float, float] = (-90.0, 90.0),
) -> Column:
    """Z-order (Morton) key from lon/lat — native bit interleave.

    Quantizes each coordinate to ``bits`` levels and interleaves them, so a
    1-D sort clusters 2-D neighbors. Used as the write-time sort key for
    the layers store: each parquet file then covers a compact spatial cell
    and bbox min/max stats prune tightly (SURVEY.md §4.3.1 'optionally
    sort by a Hilbert/Z-order key').
    """
    scale = (1 << bits) - 1
    qx = (
        (lon - F.lit(lon_range[0])) / F.lit(lon_range[1] - lon_range[0]) * scale
    ).cast("long")
    qy = (
        (lat - F.lit(lat_range[0])) / F.lit(lat_range[1] - lat_range[0]) * scale
    ).cast("long")
    qx = F.greatest(F.lit(0).cast("long"), F.least(F.lit(scale).cast("long"), qx))
    qy = F.greatest(F.lit(0).cast("long"), F.least(F.lit(scale).cast("long"), qy))
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = (
            key
            + F.shiftleft(F.shiftrightunsigned(qx, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftrightunsigned(qy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


# ---------------------------------------------------------------------------
# CRS reprojection (reference backend/models.py:30-64)
# ---------------------------------------------------------------------------

_R = 6378137.0  # WGS84 spherical-mercator earth radius (EPSG:3857 spec)


def mercator_to_lonlat(x: float, y: float) -> tuple[float, float]:
    lon = math.degrees(x / _R)
    lat = math.degrees(2.0 * math.atan(math.exp(y / _R)) - math.pi / 2.0)
    return lon, lat


def lonlat_to_mercator(lon: float, lat: float) -> tuple[float, float]:
    x = _R * math.radians(lon)
    y = _R * math.log(math.tan(math.pi / 4.0 + math.radians(lat) / 2.0))
    return x, y


def reproject_point(x: float, y: float, src_epsg: int, dst_epsg: int = 4326) -> tuple[float, float]:
    """Driver-side point reprojection (pyproj replacement for the two CRSs
    the engine supports natively; others require pyproj if installed)."""
    if src_epsg == dst_epsg:
        return x, y
    if src_epsg == 3857 and dst_epsg == 4326:
        return mercator_to_lonlat(x, y)
    if src_epsg == 4326 and dst_epsg == 3857:
        return lonlat_to_mercator(x, y)
    try:  # optional dependency path
        from pyproj import Transformer  # type: ignore

        t = Transformer.from_crs(src_epsg, dst_epsg, always_xy=True)
        return t.transform(x, y)
    except ImportError as e:
        raise ValueError(
            f"unsupported CRS pair {src_epsg}->{dst_epsg} without pyproj"
        ) from e


def make_reproject_udf(src_epsg: int, dst_epsg: int = 4326):
    """Column-wise reprojection for (x, y) double columns (vectorized
    web-mercator math; the extension of reference backend/models.py:37-42)."""

    @pandas_udf(BBOX_SCHEMA["xmin"].dataType)  # DoubleType
    def _x(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if src_epsg == 3857 and dst_epsg == 4326:
            return pd.Series(np.degrees(np.asarray(xs, dtype=np.float64) / _R))
        if src_epsg == 4326 and dst_epsg == 3857:
            return pd.Series(_R * np.radians(np.asarray(xs, dtype=np.float64)))
        return pd.Series([reproject_point(x, y, src_epsg, dst_epsg)[0] for x, y in zip(xs, ys)])

    @pandas_udf(BBOX_SCHEMA["xmin"].dataType)
    def _y(xs: pd.Series, ys: pd.Series) -> pd.Series:
        y64 = np.asarray(ys, dtype=np.float64)
        if src_epsg == 3857 and dst_epsg == 4326:
            return pd.Series(np.degrees(2.0 * np.arctan(np.exp(y64 / _R)) - np.pi / 2.0))
        if src_epsg == 4326 and dst_epsg == 3857:
            return pd.Series(_R * np.log(np.tan(np.pi / 4.0 + np.radians(y64) / 2.0)))
        return pd.Series([reproject_point(x, y, src_epsg, dst_epsg)[1] for x, y in zip(xs, ys)])

    return _x, _y


def validate_lonlat(lon: float, lat: float) -> None:
    """Range checks mirroring reference backend/models.py:52-64."""
    if not (-180.0 <= lon <= 180.0):
        raise ValueError(f"longitude {lon} out of range [-180, 180]")
    if not (-90.0 <= lat <= 90.0):
        raise ValueError(f"latitude {lat} out of range [-90, 90]")


# ---------------------------------------------------------------------------
# Exact convex polygon clipping (Sutherland–Hodgman in rational arithmetic)
# ---------------------------------------------------------------------------


def convex_clip(subject, clipper):
    """Sutherland–Hodgman clip of CCW convex ``subject`` by CCW convex
    ``clipper`` in EXACT rational arithmetic — vertices are (x, y) pairs
    of ints or :class:`fractions.Fraction`; output vertices are
    Fractions. This is the snap-FREE exact boolean-geometry increment
    (VERDICT r12 #5): where the lattice/snap entries rasterize, this
    kernel clips at the vertex level with the same integer orientation
    predicate family as ``_ring_orientations`` (cross-product side
    tests), so no tolerance and no grid are involved.

    Robustness contract (general-position inputs): a vertex exactly ON a
    clip line is kept and no crossing point is added (the crossing IS
    the vertex), so no duplicate vertices arise; crossing insertion
    requires strictly opposite side signs. Empty output = disjoint (or
    degenerate) intersection.
    """
    from fractions import Fraction

    out = list(subject)
    m = len(clipper)
    for i in range(m):
        if not out:
            break
        q1, q2 = clipper[i], clipper[(i + 1) % m]
        dqx, dqy = q2[0] - q1[0], q2[1] - q1[1]
        inp = out
        out = []
        sides = [dqx * (p[1] - q1[1]) - dqy * (p[0] - q1[0]) for p in inp]
        n = len(inp)
        for j in range(n):
            cur, nxt = inp[j], inp[(j + 1) % n]
            sc, sn = sides[j], sides[(j + 1) % n]
            if sc >= 0:
                out.append(cur)
            if (sc > 0 > sn) or (sc < 0 < sn):
                t = Fraction(sc, sc - sn)
                out.append(
                    (
                        cur[0] + t * (nxt[0] - cur[0]),
                        cur[1] + t * (nxt[1] - cur[1]),
                    )
                )
    return out


def convex_poly_area2(poly):
    """Twice the signed shoelace area of an exact-vertex polygon
    (Fractions in, Fraction out — no float anywhere)."""
    from fractions import Fraction

    s = Fraction(0)
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s


def _clip_param_core(sx, sy, cx, cy):
    """The interval machinery of :func:`_clip_pieces_int64`, returning
    the clipped sub-segment ENDPOINTS: ``(valid, sx1, sy1, sx2, sy2)``
    per (row, subject-edge), ×2-scaled int64 (values are meaningless
    where ``~valid``). Extracted r15 so the ring-output entry can
    reassemble the intersection BOUNDARY from the same exact pieces —
    a pure extraction: :func:`_clip_pieces_int64` wraps this and its
    results are bit-identical to the r13 original (pinned by the
    existing kernel-vs-convex_clip property tests)."""
    p1x, p1y = sx, sy
    p2x, p2y = np.roll(sx, -1, axis=1), np.roll(sy, -1, axis=1)
    return _clip_edges_param(p1x, p1y, p2x, p2y, cx, cy)


def _clip_edges_param(p1x, p1y, p2x, p2y, cx, cy):
    """As :func:`_clip_param_core` but with the subject EDGES given
    explicitly — (n, ne) endpoint arrays that need not form a closed
    cycle. The second r15 extraction (the cycle roll moved to the
    caller, arithmetic untouched): the boundary entry clips a region's
    true-boundary edge set (shell + hole, two cycles) in one call."""
    dx, dy = p2x - p1x, p2y - p1y
    q1x, q1y = cx, cy
    q2x, q2y = np.roll(cx, -1, axis=1), np.roll(cy, -1, axis=1)
    dqx, dqy = q2x - q1x, q2y - q1y
    # c0 + t·c1 >= 0 per (row, subject-edge, clip-edge)
    c0 = dqx[:, None, :] * (p1y[:, :, None] - q1y[:, None, :]) - dqy[
        :, None, :
    ] * (p1x[:, :, None] - q1x[:, None, :])
    c1 = dqx[:, None, :] * dy[:, :, None] - dqy[:, None, :] * dx[:, :, None]
    n, ns = p1x.shape
    la = np.zeros((n, ns), dtype=np.int64)  # t_lo = la/lb, max over lowers
    lb = np.ones((n, ns), dtype=np.int64)
    ua = np.ones((n, ns), dtype=np.int64)  # t_hi = ua/ub, min over uppers
    ub = np.ones((n, ns), dtype=np.int64)
    emp = np.zeros((n, ns), dtype=bool)
    for i in range(c0.shape[2]):
        a_i, b_i = -c0[:, :, i], c1[:, :, i]
        low = (b_i > 0) & (a_i * lb > la * b_i)
        la = np.where(low, a_i, la)
        lb = np.where(low, b_i, lb)
        a_u, b_u = c0[:, :, i], -c1[:, :, i]
        upp = (b_u > 0) & (a_u * ub < ua * b_u)
        ua = np.where(upp, a_u, ua)
        ub = np.where(upp, b_u, ub)
        emp |= (b_i == 0) & (c0[:, :, i] < 0)
    valid = (~emp) & (la * ub < ua * lb)
    lb_s = np.where(valid, lb, 1)
    ub_s = np.where(valid, ub, 1)
    nx1 = 2 * (p1x * lb_s + np.where(valid, la, 0) * dx)
    ny1 = 2 * (p1y * lb_s + np.where(valid, la, 0) * dy)
    nx2 = 2 * (p1x * ub_s + np.where(valid, ua, 0) * dx)
    ny2 = 2 * (p1y * ub_s + np.where(valid, ua, 0) * dy)
    if (
        np.any(nx1[valid] % lb_s[valid])
        or np.any(ny1[valid] % lb_s[valid])
        or np.any(nx2[valid] % ub_s[valid])
        or np.any(ny2[valid] % ub_s[valid])
    ):
        raise ValueError(
            "convex clip endpoint off the half-integer lattice — input "
            "violates the 45°-edge-family store contract"
        )
    sx1, sy1 = nx1 // lb_s, ny1 // lb_s
    sx2, sy2 = nx2 // ub_s, ny2 // ub_s
    return valid, sx1, sy1, sx2, sy2


def _clip_pieces_int64(sx, sy, cx, cy):
    """Vectorized per-edge Green's clip: for every batch row, clip each
    edge of subject polygon (sx, sy) — shape (n, ns), CCW int64 — to its
    parameter sub-interval inside convex clip polygon (cx, cy) — shape
    (n, nc) — entirely in exact int64 (fraction bounds kept as (num,
    den>0) pairs, compared by cross-multiplication). Returns
    (valid, cross2): piece-exists mask (n, ns) and the piece's scaled
    shoelace contribution cross(2·P(t_lo), 2·P(t_hi)) (n, ns).

    EXACTNESS CONTRACT: the ×2-scaled clipped endpoints must be
    integers (the 45°-edge-family store guarantee — every crossing is
    half-integer). A non-integer endpoint raises rather than rounding,
    so a store violating the lattice proof fails loudly. The general
    (any-slope) reference is :func:`convex_clip` in rational
    arithmetic, pinned equal to this kernel by test on random inputs."""
    valid, sx1, sy1, sx2, sy2 = _clip_param_core(sx, sy, cx, cy)
    return valid, np.where(valid, sx1 * sy2 - sy1 * sx2, 0)


def trapezoid_decompose(xs, ys, holes=()):
    """Exact-int64 VERTICAL (trapezoidal) decomposition of a SIMPLE CCW
    polygon — optionally with INTERIOR RINGS — into convex 4-gons: the
    convex-decomposition step that extends the snap-free clip family to
    NON-convex subjects (VERDICT r13 #2; holes VERDICT r14 #2;
    reference parity: PostGIS ST_Intersection on arbitrary
    ``geometry(Polygon,4326)``, reference backend/load_data.py:79 — a
    PostGIS Polygon admits interior rings).
    Cuts at every distinct vertex x (shell AND holes); within each
    slab, edges spanning it are sorted by (y@x1, y@x2) and paired
    even-odd, so MULTI-strip slabs (C-shapes) come out correctly — and
    hole edges drop straight into the same span set: a point above an
    odd number of spanning edges counts shell and hole crossings
    together, so even-odd parity IS "inside shell, outside every hole".
    Each strip is a trapezoid with vertical internal edges at the cut
    lines.

    Contract (all checked, never rounded):
    - integer vertices, strictly positive shell shoelace (CCW simple
      ring); each hole a CW simple ring (strictly negative shoelace),
      strictly interior to the shell and disjoint from the other holes
      (not re-verified here — a violation fails the partition check
      below instead of silently mis-tiling);
    - every non-vertical edge must pass through integer y at every
      integer x it spans (axis-aligned and 45° edges always do — the
      store family's guarantee; so do all integer slopes). This keeps
      internal cut edges ON the input's lattice family, preserving the
      half-integer-crossing contract of :func:`_clip_pieces_int64`
      downstream — the reason this is a trapezoid sweep and NOT an
      ear-clip triangulation, whose arbitrary-slope diagonals would
      break that contract.

    Returns ``(a2, pieces)``: the polygon's NET doubled shoelace area
    (shell plus the holes' negative shoelaces — equal to the shell's
    when ``holes`` is empty) and a list of
    ``((x1, x2, x2, x1), (l1, l2, u2, u1))`` CCW 4-gons (degenerate
    duplicate vertices where a side collapses to a point — harmless to
    the clip kernel, which zero-weights point edges). The pieces tile
    shell-minus-holes: their doubled areas sum to ``a2`` (verified
    before returning — a loud partition check on every call).

    The ``holes`` parameter is ADDITIVE (r15): with the default empty
    tuple the executed per-edge logic is the r14 code path unchanged —
    the documented-non-staging class (CLAUDE.md, the r14
    _qh_hist_collect extraction precedent); the r14 clip entries'
    plans and results are pinned unchanged by their oracles and
    tests/test_r14_catalog.py.
    """

    def _shoelace(px, py):
        m = len(px)
        return sum(
            px[i] * py[(i + 1) % m] - px[(i + 1) % m] * py[i]
            for i in range(m)
        )

    a2 = _shoelace(xs, ys)
    if a2 <= 0:
        raise ValueError("trapezoid_decompose needs a CCW simple polygon")
    for hxs, hys in holes:
        h2 = _shoelace(hxs, hys)
        if h2 >= 0:
            raise ValueError(
                "trapezoid_decompose holes must be CW simple rings "
                "(strictly negative shoelace)"
            )
        a2 += h2
    if a2 <= 0:
        raise ValueError("holes cover the shell — not a valid polygon")
    rings = [(xs, ys), *holes]
    cuts = sorted({x for rxs, _ in rings for x in rxs})
    pieces = []
    tot = 0
    for x1, x2 in zip(cuts, cuts[1:]):
        span = []
        for rxs, rys in rings:
            n = len(rxs)
            for i in range(n):
                x_a, y_a = rxs[i], rys[i]
                x_b, y_b = rxs[(i + 1) % n], rys[(i + 1) % n]
                if x_a == x_b:
                    continue  # vertical edges live ON cut lines, never span
                if min(x_a, x_b) <= x1 and max(x_a, x_b) >= x2:
                    dx, dy = x_b - x_a, y_b - y_a
                    n1 = y_a * dx + dy * (x1 - x_a)
                    n2 = y_a * dx + dy * (x2 - x_a)
                    if n1 % dx or n2 % dx:
                        raise ValueError(
                            "edge y off the integer lattice at a cut — input "
                            "violates the integer-slope-at-cuts contract"
                        )
                    span.append((n1 // dx, n2 // dx))
        # no vertex lies strictly inside a slab (cuts ARE the combined
        # vertex x-set) and ring edges cannot cross in the open slab
        # (each ring is simple; holes are interior-disjoint), so order
        # at x1 (x2 breaks shared-vertex ties) is the order throughout;
        # consecutive sorted pairs bound the interior strips by the
        # even-odd rule
        span.sort()
        if len(span) % 2:
            raise ValueError("odd strip-edge count — polygon not simple")
        for j in range(0, len(span), 2):
            (l1, l2), (u1, u2) = span[j], span[j + 1]
            px = (x1, x2, x2, x1)
            py = (l1, l2, u2, u1)
            tot += sum(
                px[i] * py[(i + 1) % 4] - px[(i + 1) % 4] * py[i]
                for i in range(4)
            )
            pieces.append((px, py))
    if tot != a2:
        raise ValueError("decomposition pieces do not tile the polygon")
    return a2, pieces


def _seg_clip_interval(p1, p2, poly):
    """Exact Liang–Barsky: the parameter interval of directed segment
    p1→p2 inside CCW convex ``poly`` (integer coordinates), as fraction
    bounds ``((lon, lod), (upn, upd))`` with positive denominators, or
    None when empty. Pure integer arithmetic (cross-multiplied
    comparisons) — the single-segment form of the `_clip_param_core`
    machinery, used by the boundary-reconstruction entry where the
    subject is an EDGE of one polygon, not a polygon."""
    dx, dy = p2[0] - p1[0], p2[1] - p1[1]
    lon, lod = 0, 1
    upn, upd = 1, 1
    m = len(poly)
    for i in range(m):
        q1 = poly[i]
        q2 = poly[(i + 1) % m]
        ex, ey = q2[0] - q1[0], q2[1] - q1[1]
        c0 = ex * (p1[1] - q1[1]) - ey * (p1[0] - q1[0])
        c1 = ex * dy - ey * dx
        if c1 == 0:
            if c0 < 0:
                return None
        elif c1 > 0:
            if -c0 * lod > lon * c1:
                lon, lod = -c0, c1
        else:
            if c0 * upd < upn * (-c1):
                upn, upd = c0, -c1
    if lon * upd >= upn * lod:
        return None
    return (lon, lod), (upn, upd)


def region_boundary_fragments(edges, comps):
    """Exact boundary fragments of one region's edges inside the OTHER
    region, where the other region is given as signed convex components
    (coverage 1 on it ⇔ inside): for each directed edge, clip against
    every component, drop the ×2-scaled integer interval endpoints onto
    the edge as ±coverage events, and emit the maximal sub-segments
    where the position-grouped running coverage is exactly 1 — the 1D
    even-odd sweep that makes ∂(A∩B) = (∂A ∩ B) ∪ (∂B ∩ A) computable
    per edge with NO polygon decomposition. Coincident events (a
    component edge collinear with another component's — e.g. a notch
    mouth on its octagon's edge) group by position before the sweep,
    so simultaneous enter/exit nets out exactly.

    ``edges``: directed integer segments ((x1, y1), (x2, y2)) — the
    region's TRUE boundary (CCW shell + CW holes), so fragments inherit
    interior-left orientation. ``comps``: list of (ccw_poly, ±1).
    Returns ×2-scaled integer fragments (x1, y1, x2, y2); a non-integer
    ×2 endpoint raises (the store lattice contract)."""
    frags = []
    for p1, p2 in edges:
        dx, dy = p2[0] - p1[0], p2[1] - p1[1]
        sx = 0 if dx == 0 else (1 if dx > 0 else -1)
        sy = 0 if dy == 0 else (1 if dy > 0 else -1)
        events: dict = {}
        for poly, cov in comps:
            iv = _seg_clip_interval(p1, p2, poly)
            if iv is None:
                continue
            for (num, den), sgn in ((iv[0], cov), (iv[1], -cov)):
                xn = 2 * (p1[0] * den + num * dx)
                yn = 2 * (p1[1] * den + num * dy)
                if xn % den or yn % den:
                    raise ValueError(
                        "boundary endpoint off the half-integer lattice"
                    )
                x2s, y2s = xn // den, yn // den
                pos = sx * x2s + sy * y2s
                ev = events.setdefault(pos, [0, x2s, y2s])
                ev[0] += sgn
        spos = sorted(events)
        cum = 0
        for k in range(len(spos) - 1):
            cum += events[spos[k]][0]
            if cum == 1:
                a, b = events[spos[k]], events[spos[k + 1]]
                frags.append((a[1], a[2], b[1], b[2]))
    return frags


def chain_boundary_rings(frags):
    """Group directed boundary fragments into closed rings by successor
    following (general position ⇒ every vertex has degree exactly 2, so
    the successor map is a bijection and needs no geometric search).
    Returns (rings, area8, turning8): the list of fragment-index cycles,
    the total doubled-scaled shoelace (Σ cross over all fragments =
    8 × area for ×2 coords), and the total exterior turning in 45°
    units (Hopf Umlaufsatz: +8 per CCW ring, −8 per CW hole ring —
    asserted per chained ring). Raises on any open chain."""
    start = {}
    for i, f in enumerate(frags):
        key = (f[0], f[1])
        if key in start:
            raise ValueError(f"boundary vertex degree > 2 at {key}")
        start[key] = i
    seen = [False] * len(frags)
    rings = []
    area8 = 0
    turning8 = 0
    for i, f in enumerate(frags):
        area8 += f[0] * f[3] - f[1] * f[2]
    for i in range(len(frags)):
        if seen[i]:
            continue
        cyc = []
        j = i
        ring_turn = 0
        while not seen[j]:
            seen[j] = True
            cyc.append(j)
            f = frags[j]
            key = (f[2], f[3])
            if key not in start:
                raise ValueError(f"open boundary chain at {key}")
            k = start[key]
            g = frags[k]
            d1 = _dir_class(f[2] - f[0], f[3] - f[1])
            d2 = _dir_class(g[2] - g[0], g[3] - g[1])
            ring_turn += ((d2 - d1 + 12) % 8) - 4
            j = k
        if j != i:
            raise ValueError("boundary chain re-entered mid-cycle")
        if ring_turn not in (8, -8):
            raise ValueError(f"ring turning {ring_turn} — not simple")
        turning8 += ring_turn
        rings.append(cyc)
    return rings, area8, turning8


def _dir_class(dx: int, dy: int) -> int:
    """Directed direction class of a boundary segment, CCW from East:
    E=0, NE=1, N=2, NW=3, W=4, SW=5, S=6, SE=7. The clip-store family
    only produces axis-aligned and 45° segments, so (sign, sign) is the
    full direction — no angle arithmetic."""
    if dy == 0:
        return 0 if dx > 0 else 4
    if dy > 0:
        return 2 if dx == 0 else (1 if dx > 0 else 3)
    return 6 if dx == 0 else (5 if dx < 0 else 7)


def donut_notched_polys(cx, cy, r, d, bottom):
    """The holed clip store's geometry from its key parameters, the
    scalar reference the tests hold :func:`_donut_geom_np` to: returns
    ``(ring12, hole_ccw, oct8, ntc4)`` — the notched 12-gon shell
    (CCW), the 16×16 interior ring (CCW point list; reverse for ∂A
    orientation), and the octagon/notch convex components whose signed
    coverage (+1, −1, with the hole −1) is the region."""
    if bottom:
        ring = [
            (cx - r + 8, cy - r), (cx - 8, cy - r), (cx - 8, cy - r + d),
            (cx + 8, cy - r + d), (cx + 8, cy - r), (cx + r - 8, cy - r),
            (cx + r, cy - r + 8), (cx + r, cy + r - 8), (cx + r - 8, cy + r),
            (cx - r + 8, cy + r), (cx - r, cy + r - 8), (cx - r, cy - r + 8),
        ]
        ntc = [(cx - 8, cy - r), (cx + 8, cy - r),
               (cx + 8, cy - r + d), (cx - 8, cy - r + d)]
    else:
        ring = [
            (cx - r + 8, cy - r), (cx + r - 8, cy - r), (cx + r, cy - r + 8),
            (cx + r, cy + r - 8), (cx + r - 8, cy + r), (cx - r + 8, cy + r),
            (cx - r, cy + r - 8), (cx - r, cy + 8), (cx - r + d, cy + 8),
            (cx - r + d, cy - 8), (cx - r, cy - 8), (cx - r, cy - r + 8),
        ]
        ntc = [(cx - r, cy - 8), (cx - r + d, cy - 8),
               (cx - r + d, cy + 8), (cx - r, cy + 8)]
    hole = [(cx - 8, cy + 8), (cx + 8, cy + 8),
            (cx + 8, cy + 24), (cx - 8, cy + 24)]
    oct8 = [
        (cx - r + 8, cy - r), (cx + r - 8, cy - r), (cx + r, cy - r + 8),
        (cx + r, cy + r - 8), (cx + r - 8, cy + r), (cx - r + 8, cy + r),
        (cx - r, cy + r - 8), (cx - r, cy - r + 8),
    ]
    return ring, hole, oct8, ntc


def _donut_geom_np(cx, cy, r, d, bottom):
    """Vectorized :func:`donut_notched_polys`: parameter VECTORS in,
    ((p1x, p1y, p2x, p2y) boundary-edge arrays of shape (n, 16) —
     12-gon CCW + hole CW — and the three signed convex component
    vertex arrays [(qx (n, m), qy, cov), ...]) out. Same literals, one
    source of truth verified edge-for-edge against the scalar builder
    by test."""
    n = len(cx)
    o = np.zeros(n, dtype=np.int64)

    def _v(cols):
        return np.stack([np.asarray(c) + o for c in cols], axis=1)

    rb_x = _v([cx - r + 8, cx - 8, cx - 8, cx + 8, cx + 8, cx + r - 8,
               cx + r, cx + r, cx + r - 8, cx - r + 8, cx - r, cx - r])
    rb_y = _v([cy - r, cy - r, cy - r + d, cy - r + d, cy - r, cy - r,
               cy - r + 8, cy + r - 8, cy + r, cy + r, cy + r - 8,
               cy - r + 8])
    rl_x = _v([cx - r + 8, cx + r - 8, cx + r, cx + r, cx + r - 8,
               cx - r + 8, cx - r, cx - r, cx - r + d, cx - r + d,
               cx - r, cx - r])
    rl_y = _v([cy - r, cy - r, cy - r + 8, cy + r - 8, cy + r, cy + r,
               cy + r - 8, cy + 8, cy + 8, cy - 8, cy - 8, cy - r + 8])
    b = bottom[:, None]
    ring_x = np.where(b, rb_x, rl_x)
    ring_y = np.where(b, rb_y, rl_y)
    hol_x = _v([cx - 8, cx + 8, cx + 8, cx - 8])
    hol_y = _v([cy + 8, cy + 8, cy + 24, cy + 24])
    # boundary edges: ring CCW + hole traversed CW (reversed)
    p1x = np.concatenate([ring_x, np.roll(hol_x, -1, axis=1)], axis=1)
    p1y = np.concatenate([ring_y, np.roll(hol_y, -1, axis=1)], axis=1)
    p2x = np.concatenate([np.roll(ring_x, -1, axis=1), hol_x], axis=1)
    p2y = np.concatenate([np.roll(ring_y, -1, axis=1), hol_y], axis=1)
    oct_x = _v([cx - r + 8, cx + r - 8, cx + r, cx + r,
                cx + r - 8, cx - r + 8, cx - r, cx - r])
    oct_y = _v([cy - r, cy - r, cy - r + 8, cy + r - 8,
                cy + r, cy + r, cy + r - 8, cy - r + 8])
    nb_x = _v([cx - 8, cx + 8, cx + 8, cx - 8])
    nb_y = _v([cy - r, cy - r, cy - r + d, cy - r + d])
    nl_x = _v([cx - r, cx - r + d, cx - r + d, cx - r])
    nl_y = _v([cy - 8, cy - 8, cy + 8, cy + 8])
    ntc_x = np.where(b, nb_x, nl_x)
    ntc_y = np.where(b, nb_y, nl_y)
    comps = [(oct_x, oct_y, 1), (ntc_x, ntc_y, -1), (hol_x, hol_y, -1)]
    return (p1x, p1y, p2x, p2y), comps


_POS_INF = np.int64(2**62)


def boundary_fragments_batch(edges, comps):
    """Vectorized :func:`region_boundary_fragments` over a batch of
    pairs: edge arrays (n, ne) + signed convex components in, and the
    fragment COO out — ``(row, x1, y1, x2, y2)`` flat arrays. Per
    (edge, comp) the exact interval comes from `_clip_edges_param`
    (default bounds clamp to the edge ends exactly as the scalar
    Liang–Barsky); each interval drops two ±coverage events at its
    ×2-scaled integer positions, events sort per edge, and fragments
    are the gaps where the cumulative coverage is exactly 1 (equal
    positions produce zero-length gaps which the strict position test
    drops — the same net-out the scalar path gets by grouping).
    Pinned equal to the scalar path by test on random store pairs."""
    p1x, p1y, p2x, p2y = edges
    n, ne = p1x.shape
    sgx = np.sign(p2x - p1x)
    sgy = np.sign(p2y - p1y)
    nev = 2 * len(comps)
    ev_pos = np.full((n, ne, nev), _POS_INF, dtype=np.int64)
    ev_d = np.zeros((n, ne, nev), dtype=np.int64)
    ev_x = np.zeros((n, ne, nev), dtype=np.int64)
    ev_y = np.zeros((n, ne, nev), dtype=np.int64)
    for ci, (qx, qy, cov) in enumerate(comps):
        valid, x1, y1, x2, y2 = _clip_edges_param(p1x, p1y, p2x, p2y, qx, qy)
        for k, (xx, yy, dd) in enumerate(((x1, y1, cov), (x2, y2, -cov))):
            j = 2 * ci + k
            ev_pos[:, :, j] = np.where(
                valid, sgx * xx + sgy * yy, _POS_INF
            )
            ev_d[:, :, j] = np.where(valid, dd, 0)
            ev_x[:, :, j] = np.where(valid, xx, 0)
            ev_y[:, :, j] = np.where(valid, yy, 0)
    order = np.argsort(ev_pos, axis=2, kind="stable")
    ev_pos = np.take_along_axis(ev_pos, order, axis=2)
    ev_d = np.take_along_axis(ev_d, order, axis=2)
    ev_x = np.take_along_axis(ev_x, order, axis=2)
    ev_y = np.take_along_axis(ev_y, order, axis=2)
    cum = np.cumsum(ev_d, axis=2)
    frag = (
        (cum[:, :, :-1] == 1)
        & (ev_pos[:, :, 1:] > ev_pos[:, :, :-1])
        & (ev_pos[:, :, 1:] < _POS_INF)
    )
    ri, _, ki = np.nonzero(frag)
    lo = (slice(None), slice(None), slice(None, -1))
    hi = (slice(None), slice(None), slice(1, None))
    return (
        ri,
        ev_x[lo][frag], ev_y[lo][frag],
        ev_x[hi][frag], ev_y[hi][frag],
    )


def holed_boundary_rows_batch(axv, ayv, rav, dav, sav, bxv, byv, rbv,
                              dbv, sbv):
    """The holed-boundary kernel: ten int64 store-parameter vectors in
    (centre x, y, radius, notch depth, notch side, for A then B), the
    positive pairs' complete exact boundaries out as flat COO arrays —
    ``(ri, fx1, fy1, fx2, fy2, a4, t8)`` where ``ri`` indexes the batch
    and ``a4``/``t8`` are per-FRAGMENT copies of the pair's area_e4 and
    turning8 (ready to emit as rows).

    Loud structural asserts, vectorized:
    - every fragment start is UNIQUE per pair (vertex degree ≤ 2) and
      every fragment end matches exactly one start (degree ≥ 2) — so
      the successor map is a permutation and every chain closes;
    - cycles are labeled by pointer-doubling over the successor map and
      every ring's exterior turning must be exactly ±8 (Hopf
      Umlaufsatz), with ``turning8`` the per-pair sum.
    Fragment values are bit-identical to the scalar path (pinned by the
    entry's oracle and the Fraction property tests)."""
    n = len(axv)
    edges_a, comps_a = _donut_geom_np(axv, ayv, rav, dav, sav == 1)
    edges_b, comps_b = _donut_geom_np(bxv, byv, rbv, dbv, sbv == 1)
    ri_a, x1a, y1a, x2a, y2a = boundary_fragments_batch(edges_a, comps_b)
    ri_b, x1b, y1b, x2b, y2b = boundary_fragments_batch(edges_b, comps_a)
    ri = np.concatenate([ri_a, ri_b])
    fx1 = np.concatenate([x1a, x1b])
    fy1 = np.concatenate([y1a, y1b])
    fx2 = np.concatenate([x2a, x2b])
    fy2 = np.concatenate([y2a, y2b])
    area8 = np.zeros(n, dtype=np.int64)
    np.add.at(area8, ri, fx1 * fy2 - fy1 * fx2)
    keep = area8[ri] > 0
    ri, fx1, fy1, fx2, fy2 = (
        a[keep] for a in (ri, fx1, fy1, fx2, fy2)
    )
    m = len(ri)
    z = np.zeros(0, dtype=np.int64)
    if not m:
        return z, z, z, z, z, z, z
    # direction class per fragment (store family: axis + 45° only)
    dx, dy = fx2 - fx1, fy2 - fy1
    dc = np.where(
        dy == 0,
        np.where(dx > 0, 0, 4),
        np.where(
            dy > 0,
            np.where(dx == 0, 2, np.where(dx > 0, 1, 3)),
            np.where(dx == 0, 6, np.where(dx < 0, 5, 7)),
        ),
    )
    # successor matching on composite (pair, vertex) keys: ×2 coords of
    # the holed store are < 2^15 in magnitude, so (ri, x+OFF, y+OFF)
    # packs into int64 with headroom
    off = np.int64(1) << 15
    if np.any((np.abs(fx1) >= off) | (np.abs(fy1) >= off)
              | (np.abs(fx2) >= off) | (np.abs(fy2) >= off)):
        raise ValueError("boundary coordinates exceed the packing bound")
    kstart = (ri << 32) | ((fx1 + off) << 16) | (fy1 + off)
    kend = (ri << 32) | ((fx2 + off) << 16) | (fy2 + off)
    order = np.argsort(kstart, kind="stable")
    ks = kstart[order]
    if np.any(ks[1:] == ks[:-1]):
        raise ValueError("boundary vertex degree > 2")
    pos = np.searchsorted(ks, kend)
    if np.any(pos >= m) or np.any(ks[np.minimum(pos, m - 1)] != kend):
        raise ValueError("open boundary chain")
    succ = order[pos]
    turn = ((dc[succ] - dc + 12) % 8) - 4
    t8 = np.zeros(n, dtype=np.int64)
    np.add.at(t8, ri, turn)
    # cycle labeling by pointer-doubling: rep[i] = min index on i's ring
    rep = np.arange(m, dtype=np.int64)
    hop = succ
    steps = 1
    while steps < m:
        rep = np.minimum(rep, rep[hop])
        hop = hop[hop]
        steps *= 2
    ring_turn = np.zeros(m, dtype=np.int64)
    np.add.at(ring_turn, rep, turn)
    roots = rep == np.arange(m)
    if not np.all(np.isin(ring_turn[roots], (8, -8))):
        raise ValueError("ring turning not ±8 — not simple")
    return ri, fx1, fy1, fx2, fy2, area8[ri] * 1250, t8[ri]


def clip_ring_rows_batch(ax, ay, bx, by):
    """Ring assembly for the convex clip geometry-output entry: subject
    and clip vertex matrices in ((n, 8) / (n, 4) int64), the intersection
    rings of the positive pairs out as flat COO arrays
    ``(ri, v_idx, vx, vy, ae4)`` — per ring vertex, its batch row, its
    1-based index on the ring, its ×2-scaled coordinates and the pair's
    area·10⁴.

    The pieces (each polygon's edges clipped to the other) are the
    boundary of A∩B, and a CCW convex ring's edge directions strictly
    increase, so one argsort of the piece slots by direction class
    (invalid pieces keyed 8, past every class) orders the ring. Two loud
    self-checks run on every positive pair: strict class increase (two
    pieces sharing a class would be collinear, excluded by the store
    congruence scheme) and full chain closure including the
    wrap-around."""
    va, ax1, ay1, ax2, ay2 = _clip_param_core(ax, ay, bx, by)
    vb, bx1, by1, bx2, by2 = _clip_param_core(bx, by, ax, ay)
    V = np.concatenate([va, vb], axis=1)
    X1 = np.concatenate([ax1, bx1], axis=1)
    Y1 = np.concatenate([ay1, by1], axis=1)
    X2 = np.concatenate([ax2, bx2], axis=1)
    Y2 = np.concatenate([ay2, by2], axis=1)
    tot = np.where(V, X1 * Y2 - Y1 * X2, 0).sum(axis=1)  # = 8 · area
    pos = tot > 0
    ae4 = tot[pos] * 1250
    z = np.zeros(0, dtype=np.int64)
    if not pos.any():
        return z, z, z, z, z
    V, X1, Y1, X2, Y2 = (m[pos] for m in (V, X1, Y1, X2, Y2))
    dx, dy = X2 - X1, Y2 - Y1
    dcls = np.where(
        dy == 0,
        np.where(dx > 0, 0, 4),
        np.where(
            dy > 0,
            np.where(dx == 0, 2, np.where(dx > 0, 1, 3)),
            np.where(dx == 0, 6, np.where(dx < 0, 5, 7)),
        ),
    )
    key = np.where(V, dcls, 8)
    order = np.argsort(key, axis=1, kind="stable")
    Vs = np.take_along_axis(V, order, axis=1)
    ks = np.take_along_axis(key, order, axis=1)
    X1s = np.take_along_axis(X1, order, axis=1)
    Y1s = np.take_along_axis(Y1, order, axis=1)
    X2s = np.take_along_axis(X2, order, axis=1)
    Y2s = np.take_along_axis(Y2, order, axis=1)
    both = Vs[:, 1:]
    if np.any(both & (ks[:, 1:] <= ks[:, :-1])):
        raise ValueError(
            "clip ring direction classes not strictly increasing — "
            "collinear pieces violate the store congruence scheme"
        )
    bad = both & (
        (X2s[:, :-1] != X1s[:, 1:]) | (Y2s[:, :-1] != Y1s[:, 1:])
    )
    if np.any(bad):
        raise ValueError(
            "clip ring does not chain — convexity/general-position "
            "violated"
        )
    last = (Vs.sum(axis=1) - 1)[:, None]
    lx = np.take_along_axis(X2s, last, axis=1)[:, 0]
    ly = np.take_along_axis(Y2s, last, axis=1)[:, 0]
    if np.any((lx != X1s[:, 0]) | (ly != Y1s[:, 0])):
        raise ValueError("clip ring does not close")
    ri, ci = np.nonzero(Vs)
    return np.nonzero(pos)[0][ri], ci + 1, X1s[Vs], Y1s[Vs], ae4[ri]
