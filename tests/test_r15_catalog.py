"""r15 catalog entries: interior-ring (holed) snap-free clipping.

Proof structure mirrors the r13/r14 clip-family tests:
- the mod-8 congruence scheme enumerated over the key space, now
  INCLUDING the hole edges (they must stay in each side's line classes);
- hole interiority/disjointness enumerated over the whole (r, d, side)
  parameter space — the donut-notched store's validity is key-independent
  by construction, so the enumeration is exhaustive, not sampled;
- the holes extension of `trapezoid_decompose` pinned by closed-form net
  areas, off-lattice point-membership partition proofs, and explicit
  rejection fixtures;
- a 400-random-pair Fraction cross-check of the engine path (both sides
  holed-decomposed, every piece×piece through the int64 kernel) against
  the NINE-term rational inclusion-exclusion — two independent exact
  algorithms, and the kernel's half-integer assert doubles as the mod-8
  scheme's empirical proof for the holed family;
- the entry's physical plan (exactly three Python passes: two
  store-sized decompositions + one kernel pass) and sf0.001 oracle parity;
- the overlay operator on shape pairs no entry generates, against the
  Fraction reference.
"""

from __future__ import annotations

import random
from fractions import Fraction

import duckdb
import numpy as np
import pytest

from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES, QUERIES
from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
    _clip_pieces_int64,
    convex_clip,
    convex_poly_area2,
    trapezoid_decompose,
)

SF_DIR = "/root/testdata/sf0.001"


def _notched8(cx, cy, r, d, side):
    """The ×8-scaled notched octagon (corner cut 8, notch half-width 8)
    shared by the general and holed clip stores."""
    if side == 1:
        xs = [cx - r + 8, cx - 8, cx - 8, cx + 8, cx + 8, cx + r - 8,
              cx + r, cx + r, cx + r - 8, cx - r + 8, cx - r, cx - r]
        ys = [cy - r, cy - r, cy - r + d, cy - r + d, cy - r, cy - r,
              cy - r + 8, cy + r - 8, cy + r, cy + r, cy + r - 8,
              cy - r + 8]
    else:
        xs = [cx - r + 8, cx + r - 8, cx + r, cx + r, cx + r - 8,
              cx - r + 8, cx - r, cx - r, cx - r + d, cx - r + d,
              cx - r, cx - r]
        ys = [cy - r, cy - r, cy - r + 8, cy + r - 8, cy + r, cy + r,
              cy + r - 8, cy + 8, cy + 8, cy - 8, cy - 8, cy - r + 8]
    return xs, ys


def _hole8_cw(cx, cy):
    """The 16×16 CW interior ring [cx-8, cx+8] × [cy+8, cy+24]."""
    return ([cx - 8, cx - 8, cx + 8, cx + 8],
            [cy + 8, cy + 24, cy + 24, cy + 8])


def _hole8_pts(cx, cy):
    """Same ring CCW as a point list — the convex Fraction-reference form."""
    return [(cx - 8, cy + 8), (cx + 8, cy + 8),
            (cx + 8, cy + 24), (cx - 8, cy + 24)]


def _oct8(cx, cy, r):
    return [(cx - r + 8, cy - r), (cx + r - 8, cy - r),
            (cx + r, cy - r + 8), (cx + r, cy + r - 8),
            (cx + r - 8, cy + r), (cx - r + 8, cy + r),
            (cx - r, cy + r - 8), (cx - r, cy - r + 8)]


def _ntc8(cx, cy, r, d, side):
    if side == 1:
        return [(cx - 8, cy - r), (cx + 8, cy - r),
                (cx + 8, cy - r + d), (cx - 8, cy - r + d)]
    return [(cx - r, cy - 8), (cx - r + d, cy - 8),
            (cx - r + d, cy + 8), (cx - r, cy + 8)]


def _even_odd_inside(xs, ys, px, py):
    """Exact even-odd ray cast (rightward) for a FRACTION point strictly
    off every edge line."""
    n = len(xs)
    cnt = 0
    for i in range(n):
        x1, y1 = xs[i], ys[i]
        x2, y2 = xs[(i + 1) % n], ys[(i + 1) % n]
        if (y1 > py) == (y2 > py):
            continue
        t = Fraction(py - y1, y2 - y1)
        cx = x1 + t * (x2 - x1)
        if cx > px:
            cnt += 1
    return cnt % 2 == 1


def _inside_convex4(px4, py4, px, py):
    for i in range(4):
        x1, y1 = px4[i], py4[i]
        x2, y2 = px4[(i + 1) % 4], py4[(i + 1) % 4]
        if x1 == x2 and y1 == y2:
            continue
        if (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) <= 0:
            return False
    return True


def _edge_classes_ok(xs, ys, x_cls, y_cls, diag_cls):
    """Every edge's support-line constant must fall in the side's mod-8
    class: x ≡ x_cls for verticals, y ≡ y_cls for horizontals, and
    x+y / x−y ≡ diag_cls for the 45° families."""
    n = len(xs)
    for i in range(n):
        x1, y1, x2, y2 = xs[i], ys[i], xs[(i + 1) % n], ys[(i + 1) % n]
        if x1 == x2:
            assert x1 % 8 == x_cls, (x1, x_cls)
        elif y1 == y2:
            assert y1 % 8 == y_cls, (y1, y_cls)
        else:
            c = (x1 + y1) if (x2 - x1) == -(y2 - y1) else (x1 - y1)
            assert c % 8 == diag_cls, (c, diag_cls)


class TestHoledStoreGeometry:
    def test_mod8_congruence_classes_with_hole(self):
        """The r14 mod-8 scheme carries to the holed store VERBATIM: the
        hole's four axis-aligned edges sit at cx±8 / cy+8 / cy+24, which
        stay in each side's x/y classes (A: 0/0, B: 2/4 mod 8)."""
        for k in range(1, 1400, 2):  # odd keys → A store
            cx, cy = 8 * (k % 641), 8 * (k % 677)
            r = 32 + 8 * ((k // 2) % 2)
            d = 8 + 8 * ((k // 4) % 2)
            xs, ys = _notched8(cx, cy, r, d, 1 if k % 4 == 1 else 3)
            _edge_classes_ok(xs, ys, 0, 0, 0)
            hx, hy = _hole8_cw(cx, cy)
            _edge_classes_ok(hx, hy, 0, 0, 0)
        for k in range(2, 1400, 2):  # even keys → B store
            cx, cy = 8 * (k % 653) + 2, 8 * (k % 691) + 4
            r = 32 + 8 * ((k // 2) % 2)
            d = 8 + 8 * ((k // 4) % 2)
            xs, ys = _notched8(cx, cy, r, d, 1 if k % 4 == 0 else 3)
            _edge_classes_ok(xs, ys, 2, 4, 6)
            hx, hy = _hole8_cw(cx, cy)
            _edge_classes_ok(hx, hy, 2, 4, 6)

    def test_hole_strictly_interior_and_disjoint(self):
        """Enumerated over the WHOLE (r, d, side) parameter space (the
        hole offset is key-independent): the 16×16 hole at
        [−8, 8] × [8, 24] clears the top edge, both 45° corner cuts,
        and both notch placements by ≥ 8 units."""
        for r in (32, 40):
            for d in (8, 16):
                # top edge y = r
                assert 24 < r
                # upper corner cuts: |x| + y = 2r − 8 on the cut lines
                assert 8 + 24 < 2 * r - 8
                # bottom notch tops out at y = −r + d
                assert -r + d <= -16 < 8
                # left notch reaches at most x = −r + d
                assert -r + d <= -16 < -8


class TestHoledTrapezoidDecompose:
    def test_store_sweep_partition_and_closed_form(self):
        """Every (r, d, side) donut-notched subject decomposes with NET
        doubled area equal to the closed form 2·(4r² − 384 − 16d), and
        500 off-lattice Fraction probes per shape agree: a point is in
        EXACTLY ONE piece iff it is inside the shell and outside the
        hole (the partition proof, independent of the sweep)."""
        rng = random.Random(1515)
        for r in (32, 40):
            for d in (8, 16):
                for side in (1, 3):
                    xs, ys = _notched8(0, 0, r, d, side)
                    hx, hy = _hole8_cw(0, 0)
                    a2, pieces = trapezoid_decompose(
                        xs, ys, holes=[(hx, hy)]
                    )
                    assert a2 == 2 * (4 * r * r - 384 - 16 * d)
                    for _ in range(500):
                        px = rng.randrange(-r - 4, r + 4) + Fraction(1, 3)
                        py = rng.randrange(-r - 4, r + 4) + Fraction(1, 5)
                        inside = _even_odd_inside(xs, ys, px, py) and not (
                            _even_odd_inside(hx, hy, px, py)
                        )
                        hits = sum(
                            _inside_convex4(p4x, p4y, px, py)
                            for p4x, p4y in pieces
                        )
                        assert hits == (1 if inside else 0), (
                            r, d, side, px, py, hits, inside,
                        )

    def test_two_holes_partition(self):
        """The holes parameter is a LIST: a square with two disjoint CW
        holes nets out both and still tiles."""
        sq = ([0, 32, 32, 0], [0, 0, 32, 32])
        h1 = ([4, 4, 8, 8], [4, 8, 8, 4])
        h2 = ([16, 16, 24, 24], [12, 20, 20, 12])
        a2, pieces = trapezoid_decompose(*sq, holes=[h1, h2])
        assert a2 == 2 * (32 * 32 - 16 - 64)
        rng = random.Random(77)
        for _ in range(300):
            px = rng.randrange(-2, 34) + Fraction(1, 3)
            py = rng.randrange(-2, 34) + Fraction(1, 5)
            inside = (
                _even_odd_inside(*sq, px, py)
                and not _even_odd_inside(*h1, px, py)
                and not _even_odd_inside(*h2, px, py)
            )
            hits = sum(
                _inside_convex4(p4x, p4y, px, py) for p4x, p4y in pieces
            )
            assert hits == (1 if inside else 0)

    def test_rejects_ccw_hole_and_oversized_hole(self):
        sq = ([0, 32, 32, 0], [0, 0, 32, 32])
        ccw_hole = ([4, 8, 8, 4], [4, 4, 8, 8])  # CCW — must be CW
        try:
            trapezoid_decompose(*sq, holes=[ccw_hole])
            raise AssertionError("CCW hole accepted")
        except ValueError as e:
            assert "CW" in str(e)

    def test_no_holes_path_identical_to_r14(self):
        """The additive default: holes=() reproduces the r14 results on
        the r14 store shapes bit-for-bit (the documented-non-staging
        contract for the concave/general entries)."""
        for r in (24, 32):
            for d in (8, 16):
                for side in (1, 3):
                    xs, ys = _notched8(0, 0, r, d, side)
                    a2, pieces = trapezoid_decompose(xs, ys)
                    assert a2 == 2 * (4 * r * r - 128 - 16 * d)
                    tot = 0
                    for px4, py4 in pieces:
                        tot += sum(
                            px4[i] * py4[(i + 1) % 4]
                            - px4[(i + 1) % 4] * py4[i]
                            for i in range(4)
                        )
                    assert tot == a2


class TestHoledClipFractionReference:
    def test_piece_by_piece_sum_matches_fraction_9term(self):
        """400 random store-lattice holed pairs: the engine path (BOTH
        sides holed-decomposed, every piece×piece through the int64
        kernel, summed) must equal the EXACT Fraction NINE-term
        inclusion-exclusion |OaOb| − |OaNb| − |OaHb| − |NaOb| + |NaNb|
        + |NaHb| − |HaOb| + |HaNb| + |HaHb| via rational
        Sutherland–Hodgman — two independent exact algorithms; the
        kernel's half-integer assert doubles as the holed mod-8
        scheme's empirical proof."""
        rng = random.Random(1555)
        pos = 0
        for _ in range(400):
            ra, rb = rng.choice((32, 40)), rng.choice((32, 40))
            da, db = rng.choice((8, 16)), rng.choice((8, 16))
            sa, sb = rng.choice((1, 3)), rng.choice((1, 3))
            ax, ay = 8 * rng.randrange(0, 16), 8 * rng.randrange(0, 16)
            if rng.random() < 0.5:
                bx = ax + 8 * rng.randrange(-8, 9) + 2
                by = ay + 8 * rng.randrange(-8, 9) + 4
            else:
                bx = 8 * rng.randrange(0, 16) + 2
                by = 8 * rng.randrange(0, 16) + 4
            axs, ays = _notched8(ax, ay, ra, da, sa)
            bxs, bys = _notched8(bx, by, rb, db, sb)
            _, pa = trapezoid_decompose(
                axs, ays, holes=[_hole8_cw(ax, ay)]
            )
            _, pb = trapezoid_decompose(
                bxs, bys, holes=[_hole8_cw(bx, by)]
            )
            tot = 0
            for p4x, p4y in pa:
                sx = np.array([p4x], dtype=np.int64)
                sy = np.array([p4y], dtype=np.int64)
                for q4x, q4y in pb:
                    qx = np.array([q4x], dtype=np.int64)
                    qy = np.array([q4y], dtype=np.int64)
                    _, ca = _clip_pieces_int64(sx, sy, qx, qy)
                    _, cb = _clip_pieces_int64(qx, qy, sx, sy)
                    tot += int(ca.sum() + cb.sum())
            Oa, Na = _oct8(ax, ay, ra), _ntc8(ax, ay, ra, da, sa)
            Ha = _hole8_pts(ax, ay)
            Ob, Nb = _oct8(bx, by, rb), _ntc8(bx, by, rb, db, sb)
            Hb = _hole8_pts(bx, by)

            def _a2(p, q):
                return convex_poly_area2(convex_clip(p, q))

            ref8 = 4 * (
                _a2(Oa, Ob) - _a2(Oa, Nb) - _a2(Oa, Hb)
                - _a2(Na, Ob) + _a2(Na, Nb) + _a2(Na, Hb)
                - _a2(Ha, Ob) + _a2(Ha, Nb) + _a2(Ha, Hb)
            )
            assert Fraction(tot) == ref8, (
                ax, ay, ra, da, sa, bx, by, rb, db, sb,
            )
            if tot > 0:
                pos += 1
        assert pos > 100


class TestConvexClipRings:
    def test_ring_matches_rational_convex_clip(self):
        """400 random r13-lattice pairs: the engine's ring (kernel
        pieces sorted by direction class) must equal the rational
        Sutherland–Hodgman polygon as a CYCLIC vertex sequence, and its
        canonical rotation must start at the lowest direction class —
        two independent constructions of the same geometry, vertex for
        vertex."""
        from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
            _clip_param_core,
            _dir_class,
        )

        def _oct4(cx, cy, r):
            return [(cx - r + 4, cy - r), (cx + r - 4, cy - r),
                    (cx + r, cy - r + 4), (cx + r, cy + r - 4),
                    (cx + r - 4, cy + r), (cx - r + 4, cy + r),
                    (cx - r, cy + r - 4), (cx - r, cy - r + 4)]

        def _dia4(cx, cy, s):
            return [(cx + s, cy), (cx, cy + s), (cx - s, cy), (cx, cy - s)]

        rng = random.Random(9157)
        pos = 0
        for _ in range(400):
            r = rng.choice((8, 12))
            ax, ay = 4 * rng.randrange(0, 10), 4 * rng.randrange(0, 10)
            s = 4 * rng.randrange(0, 3) + 1
            bx = ax + 4 * rng.randrange(-4, 5) + 2
            by = ay + 4 * rng.randrange(-4, 5) + 2
            oa = _oct4(ax, ay, r)
            db = _dia4(bx, by, s)
            A = np.array([[p[0] for p in oa]], dtype=np.int64)
            Ay = np.array([[p[1] for p in oa]], dtype=np.int64)
            B = np.array([[p[0] for p in db]], dtype=np.int64)
            By = np.array([[p[1] for p in db]], dtype=np.int64)
            va, x1, y1, x2, y2 = _clip_param_core(A, Ay, B, By)
            vb, u1, w1, u2, w2 = _clip_param_core(B, By, A, Ay)
            segs = [
                (int(x1[0, j]), int(y1[0, j]), int(x2[0, j]), int(y2[0, j]))
                for j in np.nonzero(va[0])[0]
            ] + [
                (int(u1[0, j]), int(w1[0, j]), int(u2[0, j]), int(w2[0, j]))
                for j in np.nonzero(vb[0])[0]
            ]
            tot = sum(s_[0] * s_[3] - s_[1] * s_[2] for s_ in segs)
            if tot <= 0:
                continue
            pos += 1
            segs.sort(key=lambda t: _dir_class(t[2] - t[0], t[3] - t[1]))
            # chain closure
            for k in range(len(segs)):
                nxt = segs[(k + 1) % len(segs)]
                assert (segs[k][2], segs[k][3]) == (nxt[0], nxt[1]), segs
            got = [(t[0], t[1]) for t in segs]
            # rational reference, x2-scaled
            ref_poly = convex_clip(oa, db)
            ref = [(2 * Fraction(p[0]), 2 * Fraction(p[1])) for p in ref_poly]
            assert all(v[0].denominator == 1 and v[1].denominator == 1
                       for v in ref)
            ref_i = [(int(v[0]), int(v[1])) for v in ref]
            assert len(ref_i) == len(got), (got, ref_i)
            # cyclic equality
            k0 = ref_i.index(got[0])
            rot = ref_i[k0:] + ref_i[:k0]
            assert rot == got, (got, ref_i)
            # canonical start: the first segment carries the lowest class
            classes = [
                _dir_class(t[2] - t[0], t[3] - t[1]) for t in segs
            ]
            assert classes == sorted(classes)
        assert pos > 100

    def test_plan_one_python_node(self, spark):
        """One Python boundary total (r15 optimization: the
        struct-returning pandas UDF + posexplode became a single
        mapInPandas emitting the vertex rows directly — the per-pair
        ring kernel still runs exactly once per candidate)."""
        df = QUERIES["spatial_clip_convex_rings"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan
        assert "ArrowEvalPython" not in plan, plan

    def test_sf0001_oracle_parity(self, spark):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW customer AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/customer.parquet')"
        )
        want = sorted(
            [tuple(r) for r in
             con.execute(ORACLES["spatial_clip_convex_rings"]).fetchall()],
            key=repr,
        )
        con.close()
        got = sorted(
            [tuple(r) for r in
             QUERIES["spatial_clip_convex_rings"](spark, SF_DIR).collect()],
            key=repr,
        )
        assert len(got) > 50
        assert got == want


class TestHoledBoundary:
    def test_boundary_matches_fraction_reference_and_probes(self):
        """300 random holed store pairs: the reconstructed boundary's
        shoelace must equal the EXACT Fraction nine-term
        inclusion-exclusion area; every chained ring must turn exactly
        ±8 (45° units) with the Umlaufsatz sum consistent with the
        per-ring orientations; and sampled fragment midpoints must have
        the intersection interior STRICTLY on their left and exterior
        on their right (exact rational even-odd probes) — a pointwise
        proof that the segments lie ON ∂(A∩B) with correct
        orientation. Multi-ring and hole-ring outputs must both occur."""
        from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
            chain_boundary_rings,
            donut_notched_polys,
            region_boundary_fragments,
        )

        def _edges(ring, hole):
            m = len(ring)
            es = [(ring[k], ring[(k + 1) % m]) for k in range(m)]
            h = len(hole)
            es += [(hole[(k + 1) % h], hole[k]) for k in range(h)]
            return es

        def _eo(ring, px, py):
            m = len(ring)
            cnt = 0
            for k in range(m):
                (x1, y1), (x2, y2) = ring[k], ring[(k + 1) % m]
                if (y1 > py) == (y2 > py):
                    continue
                t = Fraction(py - y1, y2 - y1)
                if x1 + t * (x2 - x1) > px:
                    cnt += 1
            return cnt % 2 == 1

        rng = random.Random(4242)
        pos = multi = holes = 0
        for _ in range(300):
            ra, rb = rng.choice((32, 40)), rng.choice((32, 40))
            da, db = rng.choice((8, 16)), rng.choice((8, 16))
            sa, sb = rng.choice((1, 3)), rng.choice((1, 3))
            ax, ay = 8 * rng.randrange(0, 14), 8 * rng.randrange(0, 14)
            bx = ax + 8 * rng.randrange(-9, 10) + 2
            by = ay + 8 * rng.randrange(-9, 10) + 4
            A12, Ah, Oa, Na = donut_notched_polys(ax, ay, ra, da, sa == 1)
            B12, Bh, Ob, Nb = donut_notched_polys(bx, by, rb, db, sb == 1)
            frags = region_boundary_fragments(
                _edges(A12, Ah), [(Ob, 1), (Nb, -1), (Bh, -1)]
            ) + region_boundary_fragments(
                _edges(B12, Bh), [(Oa, 1), (Na, -1), (Ah, -1)]
            )
            if not frags:
                continue
            rings, area8, turning8 = chain_boundary_rings(frags)

            def _a2(p, q):
                return convex_poly_area2(convex_clip(p, q))

            ref8 = 4 * (
                _a2(Oa, Ob) - _a2(Oa, Nb) - _a2(Oa, Bh)
                - _a2(Na, Ob) + _a2(Na, Nb) + _a2(Na, Bh)
                - _a2(Ah, Ob) + _a2(Ah, Nb) + _a2(Ah, Bh)
            )
            assert Fraction(area8) == ref8
            if area8 <= 0:
                continue
            pos += 1
            n_ccw = sum(
                1
                for c in rings
                if sum(
                    frags[i][0] * frags[i][3] - frags[i][1] * frags[i][2]
                    for i in c
                )
                > 0
            )
            n_cw = len(rings) - n_ccw
            assert turning8 == 8 * (n_ccw - n_cw)
            if len(rings) > 1:
                multi += 1
            if n_cw:
                holes += 1
            for f in rng.sample(frags, min(3, len(frags))):
                mx = Fraction(f[0] + f[2], 4)
                my = Fraction(f[1] + f[3], 4)
                dxx, dyy = f[2] - f[0], f[3] - f[1]
                eps = Fraction(1, 1000)
                for px, py, want in (
                    (mx - eps * dyy, my + eps * dxx, True),
                    (mx + eps * dyy, my - eps * dxx, False),
                ):
                    got = (
                        _eo(A12, px, py)
                        and not _eo(Ah, px, py)
                        and _eo(B12, px, py)
                        and not _eo(Bh, px, py)
                    )
                    assert got is want, (f, px, py)
        assert pos > 80 and multi > 10 and holes > 10

    def test_plan_one_python_node(self, spark):
        """One Python boundary total (r15 optimization: the
        struct-returning pandas UDF + explode became a single
        mapInPandas emitting segment rows; the vectorized successor
        matching keeps the degree-2 / Umlaufsatz asserts)."""
        df = QUERIES["spatial_clip_holed_boundary"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan
        assert "ArrowEvalPython" not in plan, plan

    def test_batch_fragments_equal_scalar_path(self):
        """The vectorized production path (`boundary_fragments_batch`
        over `_donut_geom_np`) must produce the IDENTICAL fragment set
        as the scalar reference (`region_boundary_fragments` over
        `donut_notched_polys`) on 300 random store pairs — the
        vectorization is an execution strategy, never a semantics
        change."""
        import numpy as np

        from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
            _donut_geom_np,
            boundary_fragments_batch,
            donut_notched_polys,
            region_boundary_fragments,
        )

        rng = random.Random(7115)
        params = []
        for _ in range(300):
            params.append((
                8 * rng.randrange(0, 14), 8 * rng.randrange(0, 14),
                rng.choice((32, 40)), rng.choice((8, 16)),
                rng.choice((1, 3)),
            ))
            ax, ay = params[-1][0], params[-1][1]
            params[-1] = params[-1] + (
                ax + 8 * rng.randrange(-9, 10) + 2,
                ay + 8 * rng.randrange(-9, 10) + 4,
                rng.choice((32, 40)), rng.choice((8, 16)),
                rng.choice((1, 3)),
            )
        cols = [
            np.array([p[i] for p in params], dtype=np.int64)
            for i in range(10)
        ]
        ea, ca = _donut_geom_np(cols[0], cols[1], cols[2], cols[3], cols[4] == 1)
        eb, cb = _donut_geom_np(cols[5], cols[6], cols[7], cols[8], cols[9] == 1)
        batch: dict = {}
        for ri, x1, y1, x2, y2 in (
            boundary_fragments_batch(ea, cb),
            boundary_fragments_batch(eb, ca),
        ):
            for k in range(len(ri)):
                batch.setdefault(int(ri[k]), set()).add(
                    (int(x1[k]), int(y1[k]), int(x2[k]), int(y2[k]))
                )
        nonempty = 0
        for i, p in enumerate(params):
            ax, ay, ra, da, sa, bx, by, rb, db, sb = p
            A12, Ah, Oa, Na = donut_notched_polys(ax, ay, ra, da, sa == 1)
            B12, Bh, Ob, Nb = donut_notched_polys(bx, by, rb, db, sb == 1)

            def _edges(ring, hole):
                m = len(ring)
                es = [(ring[k], ring[(k + 1) % m]) for k in range(m)]
                h = len(hole)
                es += [(hole[(k + 1) % h], hole[k]) for k in range(h)]
                return es

            sc = set(
                region_boundary_fragments(
                    _edges(A12, Ah), [(Ob, 1), (Nb, -1), (Bh, -1)]
                )
                + region_boundary_fragments(
                    _edges(B12, Bh), [(Oa, 1), (Na, -1), (Ah, -1)]
                )
            )
            assert sc == batch.get(i, set()), (i, p)
            if sc:
                nonempty += 1
        assert nonempty > 150

    def test_rows_batch_equals_scalar_chaining(self):
        """The r15-optimization vectorized kernel
        (`holed_boundary_rows_batch`: successor matching +
        pointer-doubling ring labeling) must agree with the scalar
        chain path (`chain_boundary_rings`) on 300 random store pairs:
        identical positive-pair fragment multisets, areas, and
        turning8 — and it must keep only area-positive pairs."""
        import numpy as np

        from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
            chain_boundary_rings,
            donut_notched_polys,
            holed_boundary_rows_batch,
            region_boundary_fragments,
        )

        rng = random.Random(91552)
        params = []
        for _ in range(300):
            ax, ay = 8 * rng.randrange(0, 14), 8 * rng.randrange(0, 14)
            params.append((
                ax, ay, rng.choice((32, 40)), rng.choice((8, 16)),
                rng.choice((1, 3)),
                ax + 8 * rng.randrange(-9, 10) + 2,
                ay + 8 * rng.randrange(-9, 10) + 4,
                rng.choice((32, 40)), rng.choice((8, 16)),
                rng.choice((1, 3)),
            ))
        cols = [
            np.array([p[i] for p in params], dtype=np.int64)
            for i in range(10)
        ]
        ri, x1, y1, x2, y2, a4, t8 = holed_boundary_rows_batch(*cols)
        got: dict = {}
        for k in range(len(ri)):
            e = got.setdefault(int(ri[k]), [set(), None, None])
            e[0].add((int(x1[k]), int(y1[k]), int(x2[k]), int(y2[k])))
            e[1], e[2] = int(a4[k]), int(t8[k])
        pos_pairs = 0
        for i, p in enumerate(params):
            ax, ay, ra, da, sa, bx, by, rb, db, sb = p
            A12, Ah, Oa, Na = donut_notched_polys(ax, ay, ra, da, sa == 1)
            B12, Bh, Ob, Nb = donut_notched_polys(bx, by, rb, db, sb == 1)

            def _edges(ring, hole):
                m = len(ring)
                es = [(ring[k], ring[(k + 1) % m]) for k in range(m)]
                h = len(hole)
                es += [(hole[(k + 1) % h], hole[k]) for k in range(h)]
                return es

            frags = region_boundary_fragments(
                _edges(A12, Ah), [(Ob, 1), (Nb, -1), (Bh, -1)]
            ) + region_boundary_fragments(
                _edges(B12, Bh), [(Oa, 1), (Na, -1), (Ah, -1)]
            )
            a8 = sum(f[0] * f[3] - f[1] * f[2] for f in frags)
            if a8 <= 0:
                assert i not in got, (i, p)
                continue
            pos_pairs += 1
            _, a8c, turning8 = chain_boundary_rings(frags)
            assert a8c == a8
            assert got[i][0] == set(frags), (i, p)
            assert got[i][1] == a8 * 1250, (i, p)
            assert got[i][2] == turning8, (i, p)
        assert pos_pairs > 80

    def test_sf0001_oracle_parity(self, spark):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW customer AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/customer.parquet')"
        )
        want = sorted(
            [tuple(r) for r in
             con.execute(ORACLES["spatial_clip_holed_boundary"]).fetchall()],
            key=repr,
        )
        con.close()
        got = sorted(
            [tuple(r) for r in
             QUERIES["spatial_clip_holed_boundary"](spark, SF_DIR).collect()],
            key=repr,
        )
        assert len(got) > 100
        assert got == want


class TestBpeEncodeMerges:
    def test_fixture_words_match_python_reference(self, spark):
        """The chained HOF rewrite must equal the spec (for each rank,
        simultaneously merge all — provably non-overlapping — adjacent
        occurrences) implemented independently in Python, on fixtures
        covering full-word cascades (scan/row/key), rank-order
        dependence (data: t,a fires before a,t could), the harness
        alphabet (abab → ab ab), and single chars."""
        from pyspark.sql import functions as F

        from govgis_nov2023_slim_spatial_server_spark.catalog.pipeline import (
            _BPE_MERGES,
            _bpe_merge_col,
        )

        def ref_encode(word):
            s = list(word)
            for x, y in _BPE_MERGES:
                m = [
                    s[i] == x and i + 1 < len(s) and s[i + 1] == y
                    for i in range(len(s))
                ]
                s = [
                    (x + y if m[i] else s[i])
                    for i in range(len(s))
                    if not (i > 0 and m[i - 1])
                ]
            return s

        words = [
            "scan", "data", "customer", "key", "row", "window", "a",
            "abab", "abba", "baab", "join", "table", "stream", "merge",
            "aaab", "banana",
        ]
        df = spark.createDataFrame([(w,) for w in words], ["w"])
        seq = F.split(F.col("w"), "")
        for x, y in _BPE_MERGES:
            seq = _bpe_merge_col(seq, x, y)
        got = {r.w: list(r.toks) for r in df.select("w", seq.alias("toks")).collect()}
        for w in words:
            assert got[w] == ref_encode(w), (w, got[w], ref_encode(w))
        # the cascades actually fire
        assert got["scan"] == ["scan"]
        assert got["key"] == ["key"]
        assert got["abab"] == ["ab", "ab"]

    def test_merge_table_never_self_pairs(self):
        """x == y would make occurrences overlap and the simultaneous
        semantics ill-defined — the table-level constraint the whole
        construction rests on."""
        from govgis_nov2023_slim_spatial_server_spark.catalog.pipeline import (
            _BPE_MERGES,
        )

        assert all(x != y for x, y in _BPE_MERGES)
        assert len(set(_BPE_MERGES)) == len(_BPE_MERGES)

    def test_oracle_parity_sf0001(self, spark):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        want = sorted(
            [tuple(r) for r in
             con.execute(ORACLES["bpe_encode_merges"]).fetchall()],
            key=repr,
        )
        con.close()
        got = sorted(
            [tuple(r) for r in
             QUERIES["bpe_encode_merges"](spark, SF_DIR).collect()],
            key=repr,
        )
        assert len(got) > 10
        assert got == want


class TestHoledClipEntry:
    def test_plan_three_arrow_nodes(self, spark):
        """Exactly THREE Arrow (mapInPandas) passes by design: two
        store-sized holed decompositions + one kernel pass per
        (pieceA, pieceB) candidate — decomposition never runs
        pair-sized."""
        df = QUERIES["spatial_clip_holed_pairs"](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 3, plan
        assert "ArrowEvalPython" not in plan, plan

    def test_sf0001_oracle_parity(self, spark):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW customer AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/customer.parquet')"
        )
        want = sorted(
            [tuple(r) for r in
             con.execute(ORACLES["spatial_clip_holed_pairs"]).fetchall()],
            key=repr,
        )
        con.close()
        got = sorted(
            [tuple(r) for r in
             QUERIES["spatial_clip_holed_pairs"](spark, SF_DIR).collect()],
            key=repr,
        )
        assert len(got) > 50
        assert got == want


def _diamond(cx, cy, s):
    return [cx + s, cx, cx - s, cx], [cy, cy + s, cy, cy - s]


def _area_e4_reference(a, b):
    """Per-side net area and the intersection area, each ×10⁴, summed in
    Fractions over the `trapezoid_decompose` pieces: rational
    Sutherland–Hodgman (`convex_clip`) on every piece pair."""
    pieces = []
    for xs, ys, *hole in (a, b):
        _, ps = trapezoid_decompose(xs, ys, holes=[tuple(hole)] if hole else ())
        pieces.append([list(zip(px, py)) for px, py in ps])
    pa, pb = pieces
    inter = sum(
        convex_poly_area2(convex_clip(p, q)) for p in pa for q in pb
    )
    return tuple(
        5000 * v
        for v in (
            sum(map(convex_poly_area2, pa)),
            sum(map(convex_poly_area2, pb)),
            inter,
        )
    )


class TestOverlayOperator:
    """`operators.overlay` on shape pairs no catalog entry generates:
    holed donuts (A) against diamonds and hole-free notched octagons (B),
    on the holed store's mod-8 lattice (A lines ≡ 0, B centres ≡ (2, 4))."""

    A = {
        1: (*_notched8(0, 0, 32, 8, 1), *_hole8_cw(0, 0)),
        2: (*_notched8(96, 0, 40, 16, 3), *_hole8_cw(96, 0)),
    }
    B = {
        10: _diamond(2, 12, 16),  # covers part of donut 1's hole
        11: _notched8(18, 20, 24, 8, 1),
        12: _notched8(98, 36, 32, 16, 3),
        13: _diamond(90, -36, 8),  # crosses donut 2's bottom edge
    }

    @staticmethod
    def _overlay(spark, a_rows, b_rows):
        from govgis_nov2023_slim_spatial_server_spark.operators.overlay import (
            PIECES,
            decompose,
            overlay_area,
        )

        ring = "array<long>"
        a = spark.createDataFrame(
            a_rows, f"akey long, sxs {ring}, sys {ring}, hxs {ring}, hys {ring}"
        )
        b = spark.createDataFrame(b_rows, f"bkey long, sxs {ring}, sys {ring}")
        return overlay_area(
            decompose(a, "akey", "a_e4"), decompose(b, "bkey", "b_e4"),
            64.0, PIECES, PIECES, carry=("a_e4", "b_e4"),
        )

    def test_mixed_pairs_match_fraction_reference(self, spark):
        got = {
            (r.akey, r.bkey): (r.a_e4, r.b_e4, r.area_e4, r.area)
            for r in self._overlay(
                spark,
                [(k, *rings) for k, rings in self.A.items()],
                [(k, *rings) for k, rings in self.B.items()],
            ).collect()
        }
        want = {}
        for ak, a in self.A.items():
            for bk, b in self.B.items():
                a_e4, b_e4, inter = _area_e4_reference(a, b)
                if inter > 0:
                    want[(ak, bk)] = (a_e4, b_e4, inter, float(inter) / 10000)
        assert set(want) == {(1, 10), (1, 11), (2, 12), (2, 13)}
        assert got == want

    def test_off_lattice_input_raises(self, spark):
        """A slope-3 edge crosses donut 1's bottom edge y = -32 at
        x = 13 + 8/3: off the half-integer lattice, so the kernel must
        raise rather than round."""
        tri = ([13, 16, 13], [-40, -31, -31])
        df = self._overlay(spark, [(1, *self.A[1])], [(20, *tri)])
        with pytest.raises(Exception, match="half-integer lattice"):
            df.collect()
