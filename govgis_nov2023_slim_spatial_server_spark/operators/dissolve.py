"""The raster-run pipeline: dissolve, buffer and boolean geometry from
scan-line runs, and the dissolved union GEOMETRY reconstructed from them.

Every raster entry of catalog/geo_analytics.py runs the same stages: its
store is rasterized once to per-scan-line runs (key, iy, x0, x1), x1
inclusive, runs of different polygons free to overlap; then

* `merge_runs` unions them into maximal runs per (key, iy);
* `dilate_runs` is the square buffer (x-dilate → merge → y-dilate →
  merge);
* `boolean_runs` is the two-layer sweep (intersection, difference,
  union, symdiff). Its input runs may overlap; its OUTPUT is maximal —
  no two runs of one (key, iy) overlap or abut — so it feeds the ring
  reconstruction directly, with no merge of its own;

and the tail is either a cell count, Σ(x1 − x0 + 1) over maximal runs,
or `union_rings_by_key`, which emits the union's actual rectilinear
BOUNDARY — outer rings and holes — as WKB MULTIPOLYGON per group key.
Reference parity: PostGIS ST_Union / ST_Buffer / ST_Intersection /
ST_Difference return geometry (the reference delegates to PostGIS and
has no geometry engine of its own) — this is the Spark-first equivalent
for lattice-aligned geometry.

Ring reconstruction (pure integer arithmetic end-to-end):

1. Runs (iy, x0, x1) are the row-decomposition of the union region.
   Boundary edges are derived per scan-line LEVEL: at level y, the
   horizontal boundary is the interval difference between row y's and
   row y−1's coverage (covered-above ⇒ bottom edge, directed +x;
   covered-below ⇒ top edge, directed −x), and each run contributes one
   left (directed −y) and one right (directed +y) unit edge per row.
   Every edge keeps the covered interior on its LEFT, so outer rings
   come out CCW and holes CW — exactly the shoelace sign convention
   `polygons_area_centroid` normalizes by.
2. Edges chain into rings by walking start→end; at a checkerboard
   vertex (two diagonal cells covered) two continuations exist and the
   walk takes the LEFTMOST turn (interior-left means the leftmost turn
   stays on the current region), which splits pinch points into simple
   rings (their signed areas still sum to the exact cell count).
3. Collinear vertices are compressed, holes are assigned to the
   smallest enclosing shell by an even-odd ray cast of a half-integer
   anchor point (edges are integer, the anchor half-integer — no
   boundary decision can tie).

Correctness is oracle-GRADED, not just asserted: the catalog entry
derives n_cells from the reconstructed rings' integer shoelace and the
extent from ring vertices, and the DuckDB oracle recomputes both from
the closed-form DISTINCT-cell decomposition — any lost hole, duplicated
edge, or mis-chained ring changes the shoelace sum and fails the hash.

Scale: the group key is the dissolve key (one `applyInPandas` group per
key — the canonical GROUP BY-dissolve shape); per-group state is
boundary-proportional (unit edges ∝ perimeter), the same contract as
`_occupied_runs`. Keys whose single dissolved geometry exceeds one
task's memory need hierarchical dissolve (tile-local rings + seam
stitching) — documented seam, same anti-chain-style floor as the
skyline's: the output geometry itself is the irreducible size.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.spatial import wkb_multipolygon

Interval = tuple[int, int]


def _interval_diff(a: list[Interval], b: list[Interval]) -> list[Interval]:
    """A \\ B for sorted disjoint half-open integer interval lists."""
    out: list[Interval] = []
    for a0, a1 in a:
        cur = a0
        for b0, b1 in b:
            if b1 <= cur or b0 >= a1:
                continue
            if b0 > cur:
                out.append((cur, b0))
            cur = max(cur, b1)
            if cur >= a1:
                break
        if cur < a1:
            out.append((cur, a1))
    return out


def _merge_row(iv: list[Interval]) -> list[Interval]:
    """Merge overlapping/adjacent half-open intervals (defensive: the
    engine-side window merge already unions runs; idempotent here)."""
    iv = sorted(iv)
    out = [iv[0]]
    for s, e in iv[1:]:
        if s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _point_in_ring(px: float, py: float, ring: list[tuple[int, int]]) -> bool:
    """Even-odd ray cast (+x ray). Ring vertices are integers and the
    probe half-integer, so no crossing can land on a vertex or edge."""
    inside = False
    for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
        if (y0 > py) != (y1 > py):
            # edges are axis-parallel: crossing x is x0 (== x1) for the
            # vertical edges, and horizontal edges never satisfy the test
            if x0 > px:
                inside = not inside
    return inside


def _simple_rings(
    closed: list[tuple[int, int]],
) -> list[list[tuple[int, int]]]:
    """Split a closed ring at repeated vertices into simple closed rings.

    The leftmost-turn walk splits SHELL pinch points (two covered cells
    touching diagonally) into simple rings but traces a figure-eight
    through HOLE pinch points (two uncovered cells touching diagonally) —
    no single turn rule can split both sides, so repair here: extract
    the loop between the two occurrences of a repeated vertex and recurse
    on both halves. Signed areas are preserved exactly (the split is a
    re-grouping of the same directed edges), and pinch vertices are
    always direction changes, so collinear compression never erases
    them before this runs."""
    vs = closed[:-1]
    seen: dict[tuple[int, int], int] = {}
    for i, v in enumerate(vs):
        if v in seen:
            j = seen[v]
            a = vs[j:i]
            b = vs[:j] + vs[i:]
            return _simple_rings(a + [a[0]]) + _simple_rings(b + [b[0]])
        seen[v] = i
    return [closed]


def _shoelace2(ring: list[tuple[int, int]]) -> int:
    """2× signed area of a closed integer ring (CCW positive)."""
    a2 = 0
    for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
        a2 += x0 * y1 - x1 * y0
    return a2


def runs_to_rings(
    runs: list[tuple[int, int, int]],
) -> tuple[list[list[list[tuple[int, int]]]], int, tuple[int, int, int, int]]:
    """Reconstruct the dissolved boundary of a union of unit cells given
    per-row runs (iy, x0, x1), x1 INCLUSIVE (the `_occupied_runs` shape).

    Returns (polygons, n_cells, extent): polygons as [shell, *holes]
    integer vertex rings (closed, shell CCW / holes CW), n_cells the
    exact covered-cell count from the rings' shoelace sum, extent as
    (min_vx, min_vy, max_vx, max_vy) over ring vertices.
    """
    if not runs:
        return [], 0, (0, 0, 0, 0)
    rows: dict[int, list[Interval]] = defaultdict(list)
    for iy, x0, x1 in runs:
        rows[int(iy)].append((int(x0), int(x1) + 1))
    rows = {y: _merge_row(iv) for y, iv in rows.items()}

    # directed unit boundary edges, covered interior on the LEFT
    edges: dict[tuple[int, int], list[tuple[int, int]]] = defaultdict(list)
    ys = sorted(rows)
    for y in range(ys[0], ys[-1] + 2):
        above = rows.get(y, [])
        below = rows.get(y - 1, [])
        for a, b in _interval_diff(above, below):  # bottom: +x
            for x in range(a, b):
                edges[(x, y)].append((x + 1, y))
        for a, b in _interval_diff(below, above):  # top: −x
            for x in range(a, b):
                edges[(x + 1, y)].append((x, y))
    for y, iv in rows.items():
        for a, b in iv:
            edges[(a, y + 1)].append((a, y))  # left: −y
            edges[(b, y)].append((b, y + 1))  # right: +y
    for v in edges.values():
        v.sort()

    rings: list[list[tuple[int, int]]] = []
    for start in sorted(edges):
        while edges[start]:
            ring = [start, edges[start].pop(0)]
            while ring[-1] != start:
                cur = ring[-1]
                dx, dy = cur[0] - ring[-2][0], cur[1] - ring[-2][1]
                cands = edges[cur]
                if len(cands) == 1:
                    ring.append(cands.pop(0))
                    continue
                # checkerboard vertex: take the LEFTMOST turn (max
                # cross(in, out)) — interior is on the left, so the
                # leftmost turn stays on the current region's boundary
                # and splits the pinch point into two simple rings
                # (the rightmost turn would cross into the diagonal
                # cell and emit a figure-eight)
                best = max(
                    range(len(cands)),
                    key=lambda i: dx * (cands[i][1] - cur[1])
                    - dy * (cands[i][0] - cur[0]),
                )
                ring.append(cands.pop(best))
            # compress collinear vertices (consecutive equal directions)
            keep = [ring[0]]
            for i in range(1, len(ring) - 1):
                d_in = (ring[i][0] - ring[i - 1][0], ring[i][1] - ring[i - 1][1])
                d_out = (ring[i + 1][0] - ring[i][0], ring[i + 1][1] - ring[i][1])
                if d_in != d_out:
                    keep.append(ring[i])
            keep.append(ring[-1])
            rings.extend(_simple_rings(keep))

    shells = [(r, _shoelace2(r)) for r in rings if _shoelace2(r) > 0]
    holes = [(r, _shoelace2(r)) for r in rings if _shoelace2(r) < 0]
    n_cells = (sum(a for _, a in shells) + sum(a for _, a in holes)) // 2

    polys: list[list[list[tuple[int, int]]]] = [[r] for r, _ in shells]
    shell_order = sorted(range(len(shells)), key=lambda i: shells[i][1])
    for hr, _ in holes:
        # anchor: any +x-directed edge has the enclosed uncovered region
        # strictly below its midpoint (covered is on the edge's left)
        ax = ay = None
        for (x0, y0), (x1, _) in zip(hr, hr[1:]):
            if x1 > x0:
                ax, ay = x0 + 0.5, y0 - 0.5
                break
        assert ax is not None, "hole ring without a +x edge"
        for i in shell_order:  # smallest containing shell wins
            if _point_in_ring(ax, ay, shells[i][0]):
                polys[i].append(hr)
                break
        else:  # pragma: no cover — impossible for a valid cell union
            raise AssertionError("hole ring not contained in any shell")

    vxs = [v[0] for r in rings for v in r]
    vys = [v[1] for r in rings for v in r]
    return polys, n_cells, (min(vxs), min(vys), max(vxs), max(vys))


# The buffer entries' square reach: 4 cells = 0.25° on the 1/16° lattice.
DILATE_R = 4


def merge_runs(iv: DataFrame, key: str = "c_nationkey") -> DataFrame:
    """Union overlapping or abutting [x0, x1] runs per (key, iy) into
    maximal runs, in-engine. This is the pre-merge the dissolve needs at
    scale: overlapping polygons emit overlapping runs, and merging on the
    (key, iy) axis — thousands of partitionable keys — means the
    dissolve-key Exchange (25 reducers) and the per-group Python chaining
    both see only the UNION's runs, not every polygon's. Measured at the
    20× rehearsal: 9 M raw runs merge to a fraction engine-side and the
    entry wall drops (SCALING.md run 13).

    The (key, iy) shuffle is pinned to ≥ 2× cluster parallelism (guide
    §2.5): the runs frame is MB-scale at bench SFs, so AQE's byte-based
    coalescing (64m advisory, parallelismFirst=false) collapsed the
    exchange to ONE partition and serialized the sort + windows +
    aggregate on one core — measured 1.92 s → 1.15 s on the union
    entry's 450k-run merge. The pin is parallelism-derived, not a
    constant, and (key, iy) has thousands of distinct values at any SF;
    at shuffle sizes where AQE would split anyway (GB-scale runs), 2×
    cores is still the right order for a window whose per-row work
    dominates its bytes."""
    n_part = iv.sparkSession.sparkContext.defaultParallelism * 2
    return _islands(iv.repartition(n_part, key, "iy"), key)


def _islands(iv: DataFrame, key: str) -> DataFrame:
    """The merge of `merge_runs` over a frame already hash-partitioned on
    (key, iy), so its windows and aggregate add no Exchange: a run that
    starts past every earlier run's x1 + 1 opens a new island (running
    max), and each island's min x0 / max x1 is one maximal run."""
    w = (
        Window.partitionBy(key, "iy")
        .orderBy("x0", "x1")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wi = Window.partitionBy(key, "iy").orderBy("x0", "x1")
    marked = iv.withColumn(
        "new_island",
        F.when(F.col("x0") > F.max("x1").over(w) + 1, F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn("island", F.sum("new_island").over(wi))
    return marked.groupBy(key, "iy", "island").agg(
        F.min("x0").alias("x0"), F.max("x1").alias("x1")
    ).select(key, "iy", "x0", "x1")


def dilate_runs(runs: DataFrame) -> DataFrame:
    """Maximal runs of each nation's cell set dilated by the square of
    radius DILATE_R cells (the Minkowski sum with [−R, R]², i.e. the
    union of every cell shifted by (di, dj) ∈ [−R, R]²). The square
    element is separable, so it runs on runs, never on cells: x-dilation
    moves the run ends ([x0 − R, x1 + R]), one merge, y-dilation copies
    each merged run to rows iy − R … iy + R (2R + 1 rows per SEGMENT),
    one merge. Pure int64 arithmetic; rows stay boundary-proportional."""
    r = DILATE_R
    segs = merge_runs(
        runs.select(
            "c_nationkey",
            "iy",
            (F.col("x0") - r).alias("x0"),
            (F.col("x1") + r).alias("x1"),
        )
    )
    return merge_runs(
        segs.select(
            "c_nationkey",
            F.explode(F.sequence(F.col("iy") - r, F.col("iy") + r)).alias("iy"),
            "x0",
            "x1",
        )
    )


_OUT_SCHEMA = (
    "c_nationkey long, geom_wkb binary, n_polys long, n_rings long, "
    "n_vertices long, n_cells long, min_vx long, min_vy long, "
    "max_vx long, max_vy long"
)


def union_rings_by_key(runs, key: str = "c_nationkey", cell: float = 0.0625):
    """Per-key dissolved union geometry: group the (merged) scan-line
    runs by `key` and reconstruct each key's MULTIPOLYGON (vertices in
    degrees: integer lattice id × cell, exact dyadic for the catalog's
    1/16° lattice), plus the ring-derived scorecard the oracle grades."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        triples = sorted(zip(pdf["iy"], pdf["x0"], pdf["x1"]))
        polys, n_cells, (mnx, mny, mxx, mxy) = runs_to_rings(triples)
        wkb = wkb_multipolygon(
            [
                [[(x * cell, y * cell) for x, y in r] for r in rings]
                for rings in polys
            ]
        )
        return pd.DataFrame(
            [
                {
                    key: pdf[key].iloc[0],
                    "geom_wkb": wkb,
                    "n_polys": len(polys),
                    "n_rings": sum(len(p) for p in polys),
                    "n_vertices": sum(len(r) - 1 for p in polys for r in p),
                    "n_cells": n_cells,
                    "min_vx": mnx,
                    "min_vy": mny,
                    "max_vx": mxx,
                    "max_vy": mxy,
                }
            ]
        )

    # Pin the dissolve exchange to cluster parallelism (r15
    # optimization, guide §2.5): the merged-runs shuffle is MB-scale,
    # so AQE's byte-based coalescing packed every group into one
    # partition and chained all keys serially on one core — the
    # per-group Python work, not the bytes, is this exchange's cost.
    # hash(key) over 2× cores spreads the groups; the groupBy reuses
    # the partitioning (no extra exchange).
    n_part = runs.sparkSession.sparkContext.defaultParallelism * 2
    return (
        runs.repartition(n_part, key)
        .groupBy(key)
        .applyInPandas(build, _OUT_SCHEMA.replace("c_nationkey", key))
    )


def boolean_runs(
    runs: DataFrame, mode: str, key: str = "c_nationkey"
) -> DataFrame:
    """Set operation on two scan-line run layers per (key, iy): ``runs``
    is one LAYER-TAGGED frame (key, iy, x0, x1, layer ∈ {1 = A, 0 = B}),
    so a caller can produce both layers in ONE upstream pass (one
    rasterize of the whole store, the layer riding the key) instead of
    two plan branches Spark would compute independently. The
    boundary-sweep generalization of `merge_runs` to TWO coverage
    counters gives the PostGIS boolean ops (ST_Intersection,
    ST_Difference; union and symmetric difference fall out of the same
    sweep) on the runs representation, fully in-engine:

    1. every run [x0, x1] emits two boundary events (+1 at x0, −1 at
       x1+1) on its layer's counter, via one explode (map-only);
    2. events at equal x collapse (one aggregate), then per (key, iy) a
       running sum yields the coverage counters (cA, cB) on the segment
       [x, next_x) — inputs need NOT be merged, overlap just raises the
       counter;
    3. the mode predicate selects active segments:
       ``intersection`` cA>0 ∧ cB>0, ``difference`` cA>0 ∧ cB=0,
       ``union`` cA>0 ∨ cB>0, ``symdiff`` exactly one side covered;
    4. `merge_runs`' island windows join abutting active segments (a
       segment boundary where a counter moves 1 → 2 splits a run), so
       the output is MAXIMAL runs, ready for `union_rings_by_key`.

    The event frame is repartitioned ONCE on (key, iy) before the
    aggregate (guide §2.4/§2.5): hash(key, iy) satisfies the (key, iy,
    x) aggregate's clustering requirement AND every window's, the
    merge's included — so the sweep and its merge run on ONE exchange,
    and the pin keeps AQE's byte-based coalescing from collapsing the
    MB-scale shuffle to one core (the `merge_runs` lesson). All
    arithmetic is integer."""
    one = F.lit(1).cast("long")
    n_part = runs.sparkSession.sparkContext.defaultParallelism * 2
    ev = (
        runs.select(
            key,
            "iy",
            "layer",
            F.explode(
                F.array(
                    F.struct(
                        F.col("x0").cast("long").alias("x"), one.alias("d")
                    ),
                    F.struct(
                        (F.col("x1") + 1).cast("long").alias("x"),
                        (-one).alias("d"),
                    ),
                )
            ).alias("e"),
        )
        .select(
            key,
            "iy",
            F.col("e.x").alias("x"),
            F.when(F.col("layer") == 1, F.col("e.d"))
            .otherwise(F.lit(0))
            .alias("dA"),
            F.when(F.col("layer") == 0, F.col("e.d"))
            .otherwise(F.lit(0))
            .alias("dB"),
        )
        .repartition(n_part, key, "iy")
        .groupBy(key, "iy", "x")
        .agg(F.sum("dA").alias("dA"), F.sum("dB").alias("dB"))
    )
    wcum = (
        Window.partitionBy(key, "iy")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    word = Window.partitionBy(key, "iy").orderBy("x")
    st = ev.select(
        key,
        "iy",
        "x",
        F.sum("dA").over(wcum).alias("cA"),
        F.sum("dB").over(wcum).alias("cB"),
        F.lead("x").over(word).alias("nx"),
    )
    preds = {
        "intersection": (F.col("cA") > 0) & (F.col("cB") > 0),
        "difference": (F.col("cA") > 0) & (F.col("cB") == 0),
        "union": (F.col("cA") > 0) | (F.col("cB") > 0),
        "symdiff": (F.col("cA") > 0) != (F.col("cB") > 0),
    }
    if mode not in preds:
        raise ValueError(f"unknown boolean_runs mode: {mode!r}")
    active = st.where(preds[mode] & F.col("nx").isNotNull()).select(
        key, "iy", F.col("x").alias("x0"), (F.col("nx") - 1).alias("x1")
    )
    return _islands(active, key)
