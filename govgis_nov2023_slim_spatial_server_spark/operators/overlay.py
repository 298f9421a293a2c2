"""Polygon overlay: exact A ∩ B between two polygon stores, the engine's
form of PostGIS ``ST_Intersection`` on ``geometry(Polygon, 4326)``
(reference backend/load_data.py:79).

Every ``spatial_clip_*`` entry runs this one pipeline and differs only in
the shapes it generates:

1. :func:`decompose` — a simple polygon, optionally with one interior ring,
   becomes exact convex trapezoids, once per subject row;
2. :func:`pair_stats` — the int64 per-edge Green kernel over a batch of
   convex pairs;
3. :func:`overlay_rows` — the grid-blocked candidate join and the one
   batch loop every pair kernel runs under;
4. :func:`overlay_area` — per-(akey, bkey) area sums over the pairs.

A *shape* is ``(columns, mats)``: the int64 columns a side carries and the
function that rebuilds its (n, k) CCW vertex matrices from them, so joins
and Arrow batches move a few scalars per polygon instead of vertex lists.

Exactness: coordinates are int64 on the lattice each store guarantees;
``trapezoid_decompose`` and the clip kernel raise rather than round when an
input leaves it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.spatial import _clip_pieces_int64, trapezoid_decompose
from ..session import spread
from .spatial_join import grid_blocked_overlap_join

# a trapezoid piece: vertical sides at x1 < x2, lower edge (x1, l1)-(x2, l2),
# upper edge (x1, u1)-(x2, u2)
PIECE_COLS = ("x1", "x2", "l1", "l2", "u1", "u2")


def piece_mats(x1, x2, l1, l2, u1, u2):
    """(n, 4) CCW vertex matrices of trapezoid pieces."""
    return np.stack([x1, x2, x2, x1], axis=1), np.stack([l1, l2, u2, u1], axis=1)


PIECES = (PIECE_COLS, piece_mats)


def decompose(df: DataFrame, key: str, area: str) -> DataFrame:
    """Trapezoid pieces of each polygon in ``df``: one output row per
    piece, ``(key, area, *PIECE_COLS, xmin, ymin, xmax, ymax)``.

    ``df`` carries ``key`` and the shell as ``sxs``/``sys`` (array<long>,
    CCW), and optionally one interior ring as ``hxs``/``hys`` (CW).
    ``area`` names the polygon's net area × 10⁴ (its doubled shoelace
    · 5000), repeated on each of its pieces. ``trapezoid_decompose``
    checks on every polygon that the pieces tile it.
    """
    rings = ["sxs", "sys"] + (["hxs", "hys"] if "hxs" in df.columns else [])
    names = [key, area, *PIECE_COLS]

    def _pieces(batches):
        for pdf in batches:
            rows = []
            for k, xs, ys, *hole in zip(pdf[key], *(pdf[c] for c in rings)):
                a2, pieces = trapezoid_decompose(
                    xs.tolist(), ys.tolist(),
                    holes=[(hole[0].tolist(), hole[1].tolist())] if hole else (),
                )
                rows += [
                    (k, a2 * 5000, px[0], px[1], py[0], py[1], py[3], py[2])
                    for px, py in pieces
                ]
            if rows:
                yield pd.DataFrame(rows, columns=names)

    out = spread(df.select(key, *rings)).mapInPandas(
        _pieces, ", ".join(f"{n} long" for n in names)
    )
    return out.select(
        *names,
        F.col("x1").cast("double").alias("xmin"),
        F.least("l1", "l2", "u1", "u2").cast("double").alias("ymin"),
        F.col("x2").cast("double").alias("xmax"),
        F.greatest("l1", "l2", "u1", "u2").cast("double").alias("ymax"),
    )


def pair_stats(ax, ay, bx, by):
    """The pair kernel: for each row, the exact intersection of CCW convex
    polygons (ax, ay) and (bx, by), (n, k) int64 matrices, as
    ``(n_vertices, area_e4)``; both are 0 where the area is not positive.

    Each polygon's edges are clipped to the other with
    ``_clip_pieces_int64``; the pieces' shoelace terms sum to 8 · area, and
    in general position they biject with the intersection's vertices.
    Half-integer crossings make area · 10⁴ exact."""
    va, ca = _clip_pieces_int64(ax, ay, bx, by)
    vb, cb = _clip_pieces_int64(bx, by, ax, ay)
    total = ca.sum(axis=1) + cb.sum(axis=1)
    pos = total > 0
    nv = np.where(pos, va.sum(axis=1) + vb.sum(axis=1), 0).astype(np.int32)
    return nv, np.where(pos, total * 1250, 0)


def overlay_rows(
    a: DataFrame, b: DataFrame, cell: float, args, kernel, schema: str,
    carry=(),
) -> DataFrame:
    """Run ``kernel`` over every candidate pair of ``a`` (keyed ``akey``)
    and ``b`` (keyed ``bkey``), both carrying ``xmin/ymin/xmax/ymax``.

    Candidates come from the grid-blocked bbox join at ``cell``. Each side
    is spread once, before its first Python step, because a single-file
    scan would otherwise run that step on one partition: ``decompose``
    spreads the polygons it cuts, so its pieces join as they are, and any
    other side is spread here. Both sides, because the planner may
    broadcast either one, and the streamed side sets the kernel's width.

    ``kernel(*arrays)`` gets the joined columns ``args`` (``b``'s suffixed
    ``_r``) as numpy arrays, one batch at a time, and returns
    ``(ri, *columns)``: the batch row of each output row, then the columns
    ``schema`` names in order. The result is ``akey, bkey, *carry``
    gathered at ``ri`` (``carry`` are long columns of either side), then
    the kernel's columns."""
    a, b = (
        side if set(PIECE_COLS) <= set(side.columns) else spread(side)
        for side in (a, b)
    )
    pairs = grid_blocked_overlap_join(a, b, cell=cell)
    keys = ["akey", "bkey", *carry]
    names = [f.split()[0] for f in schema.split(",")]

    def _batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ri, *cols = kernel(*(pdf[c].to_numpy() for c in args))
            if len(ri):
                yield pd.DataFrame(
                    {**{k: pdf[k].to_numpy()[ri] for k in keys},
                     **dict(zip(names, cols))}
                )

    sel = pairs.select(
        *(F.col(k if k in pairs.columns else k + "_r").alias(k) for k in keys),
        *args,
    )
    return sel.mapInPandas(
        _batches, ", ".join(f"{k} long" for k in keys) + ", " + schema
    )


def with_area(df: DataFrame) -> DataFrame:
    """Add ``area`` = ``area_e4`` / 10⁴."""
    return df.withColumn("area", F.col("area_e4").cast("double") / 10000.0)


def overlay_pairs(
    a: DataFrame, b: DataFrame, cell: float, a_shape, b_shape, carry=()
) -> DataFrame:
    """``akey, bkey, *carry, n_vertices, area_e4`` for every candidate pair
    of convex shapes whose intersection has positive area."""
    (acols, amats), (bcols, bmats) = a_shape, b_shape
    n = len(acols)

    def _stats(*cols):
        nv, ae4 = pair_stats(*amats(*cols[:n]), *bmats(*cols[n:]))
        ri = np.nonzero(ae4)[0]
        return ri, nv[ri], ae4[ri]

    return overlay_rows(
        a, b, cell, (*acols, *(c + "_r" for c in bcols)), _stats,
        "n_vertices int, area_e4 long", carry,
    )


def overlay_area(
    a: DataFrame, b: DataFrame, cell: float, a_shape, b_shape, carry=()
) -> DataFrame:
    """``akey, bkey, *carry, area_e4, area`` per (akey, bkey) whose pieces
    overlap with positive total area: ``area_e4`` sums the piece pairs
    (the pieces of each side tile it), ``carry`` keeps each per-subject
    column once."""
    rows = overlay_pairs(a, b, cell, a_shape, b_shape, carry)
    return with_area(
        rows.groupBy("akey", "bkey")
        .agg(*(F.max(c).alias(c) for c in carry), F.sum("area_e4").alias("area_e4"))
        .where(F.col("area_e4") > 0)
    )
