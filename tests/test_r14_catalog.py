"""r14 catalog entries and scale-knob coverage.

Covers weighted_median_histogram's scale knobs (VERDICT r13 #3 — the
entry previously ASSERTED at the histogram guard while the unweighted
sibling auto-widened): both entries now share `_qh_hist_collect`
(auto-widen ×16 under the LIMIT-guarded collect) and the weighted entry
grew its own recursion-within-bin path (oversized by ROW count, located
by cumulative WEIGHT, width-1 direct driver-side resolution). Every
patched run must equal the default-constants run AND the DuckDB oracle
bit-for-bit.
"""

from __future__ import annotations

import duckdb
import pytest

from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _oracle_rows(
    name: str,
    sf_dir: str,
    tables=("orders", "lineitem", "customer", "nation", "region"),
):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    rows = con.execute(ORACLES[name]).fetchall()
    con.close()
    return sorted(rows, key=repr)


def _spark_rows(spark, name: str, sf_dir: str):
    return sorted(
        [tuple(r) for r in QUERIES[name](spark, sf_dir).collect()], key=repr
    )


class TestWeightedQuantileKnobs:
    def test_default_path_matches_oracle(self, spark):
        assert _spark_rows(spark, "weighted_median_histogram", SF_DIR) == (
            _oracle_rows("weighted_median_histogram", SF_DIR)
        )

    def test_auto_widen_from_narrow_width(self, spark, monkeypatch):
        """_QH_W = 256 cents puts sf0.001's ~1e7-cent lineitem price
        range into ~40k (flag × bin) rows — the r13 assert died exactly
        here; the shared widen loop must recover and produce the
        identical result."""
        from govgis_nov2023_slim_spatial_server_spark.catalog import advanced

        monkeypatch.setattr(advanced, "_QH_W", 256)
        assert _spark_rows(spark, "weighted_median_histogram", SF_DIR) == (
            _oracle_rows("weighted_median_histogram", SF_DIR)
        )

    @pytest.mark.parametrize("bin_max", [50, 1])
    def test_recursion_within_bin(self, spark, monkeypatch, bin_max):
        """bin_max=50 forces at least one weighted refine level at
        sf0.001 (each return flag holds thousands of rows per coarse
        bin); bin_max=1 refines to width-1 bins, where every target
        resolves DRIVER-SIDE (the all-direct no-scan path)."""
        from govgis_nov2023_slim_spatial_server_spark.catalog import advanced

        monkeypatch.setattr(advanced, "_QH_BIN_ROWS_MAX", bin_max)
        assert _spark_rows(spark, "weighted_median_histogram", SF_DIR) == (
            _oracle_rows("weighted_median_histogram", SF_DIR)
        )

    def test_both_knobs_together(self, spark, monkeypatch):
        from govgis_nov2023_slim_spatial_server_spark.catalog import advanced

        monkeypatch.setattr(advanced, "_QH_W", 512)
        monkeypatch.setattr(advanced, "_QH_BIN_ROWS_MAX", 25)
        assert _spark_rows(spark, "weighted_median_histogram", SF_DIR) == (
            _oracle_rows("weighted_median_histogram", SF_DIR)
        )


def _write_quantile_tables(tmp_path, orders, lineitem):
    """orders: (status, price) rows; lineitem: (flag, price, quantity)
    rows. Written through pyarrow so a None is a parquet NULL, not NaN."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(1, len(orders) + 1), pa.int64()),
                "o_orderstatus": pa.array([r[0] for r in orders], pa.string()),
                "o_totalprice": pa.array([r[1] for r in orders], pa.float64()),
            }
        ),
        tmp_path / "orders.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "l_returnflag": pa.array([r[0] for r in lineitem], pa.string()),
                "l_extendedprice": pa.array([r[1] for r in lineitem], pa.float64()),
                "l_quantity": pa.array([r[2] for r in lineitem], pa.float64()),
            }
        ),
        tmp_path / "lineitem.parquet",
    )


class TestQuantileNulls:
    """NULL prices count toward the total and sort last, so a rank landing
    among them is NULL; a NULL status is one more group of the unweighted
    entry, and no group of the weighted one (the oracle's inner join on
    the flag drops it). The forced-narrow knobs push the NULL group
    through the refine's null-safe interval predicates."""

    ORDERS = [
        ("O", 10.0), ("O", 20.0), ("O", None),
        (None, 20.0), (None, 30.0),
        ("F", 5.0),
    ]
    LINEITEM = [
        ("O", 10.0, 1.0), ("O", 20.0, 2.0), ("O", None, 3.0),
        (None, 20.0, 1.0), (None, 30.0, 1.0),
        ("A", 7.0, 4.0),
    ]

    @pytest.mark.parametrize("knobs", [{}, {"_QH_W": 16, "_QH_BIN_ROWS_MAX": 1}])
    def test_null_prices_and_groups_match_oracle(
        self, spark, tmp_path, monkeypatch, knobs
    ):
        from govgis_nov2023_slim_spatial_server_spark.catalog import advanced

        for k, v in knobs.items():
            monkeypatch.setattr(advanced, k, v)
        _write_quantile_tables(tmp_path, self.ORDERS, self.LINEITEM)
        sf = str(tmp_path)
        unweighted = _spark_rows(spark, "exact_quantiles_histogram", sf)
        weighted = _spark_rows(spark, "weighted_median_histogram", sf)
        tables = ("orders", "lineitem")
        assert unweighted == _oracle_rows("exact_quantiles_histogram", sf, tables)
        assert weighted == _oracle_rows("weighted_median_histogram", sf, tables)
        assert ("O", 3, 2000, None, 20.0, None) in unweighted
        assert (None, 2, 2000, 3000, 20.0, 30.0) in unweighted
        assert ("O", 6, 2000, None, 20.0, None) in weighted
        assert [r[0] for r in weighted] == ["A", "O"]

    def test_empty_tables(self, spark, tmp_path):
        _write_quantile_tables(tmp_path, [], [])
        sf = str(tmp_path)
        for name in ("exact_quantiles_histogram", "weighted_median_histogram"):
            assert _spark_rows(spark, name, sf) == []
            assert _oracle_rows(name, sf, ("orders", "lineitem")) == []


# ---------------------------------------------------------------------------
# spatial_clip_concave_pairs — non-convex snap-free clipping (VERDICT r13 #2)
# ---------------------------------------------------------------------------

import random
from fractions import Fraction

from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
    _clip_pieces_int64,
    convex_clip,
    convex_poly_area2,
    trapezoid_decompose,
)

import numpy as np


def _notched(ax, ay, r, d, side):
    if side == 1:  # bottom notch
        xs = [ax - r + 4, ax - 4, ax - 4, ax + 4, ax + 4, ax + r - 4,
              ax + r, ax + r, ax + r - 4, ax - r + 4, ax - r, ax - r]
        ys = [ay - r, ay - r, ay - r + d, ay - r + d, ay - r, ay - r,
              ay - r + 4, ay + r - 4, ay + r, ay + r, ay + r - 4,
              ay - r + 4]
    else:  # left notch (C-shape: multi-strip slabs)
        xs = [ax - r + 4, ax + r - 4, ax + r, ax + r, ax + r - 4,
              ax - r + 4, ax - r, ax - r, ax - r + d, ax - r + d,
              ax - r, ax - r]
        ys = [ay - r, ay - r, ay - r + 4, ay + r - 4, ay + r, ay + r,
              ay + r - 4, ay + 4, ay + 4, ay - 4, ay - 4, ay - r + 4]
    return xs, ys


def _even_odd_inside(xs, ys, px, py):
    """Exact even-odd ray cast (rightward) for a FRACTION point strictly
    off every edge line — the independent membership reference."""
    n = len(xs)
    cnt = 0
    for i in range(n):
        x1, y1 = xs[i], ys[i]
        x2, y2 = xs[(i + 1) % n], ys[(i + 1) % n]
        if (y1 > py) == (y2 > py):
            continue
        # x at the crossing, exact
        t = Fraction(py - y1, y2 - y1)
        cx = x1 + t * (x2 - x1)
        if cx > px:
            cnt += 1
    return cnt % 2 == 1


def _inside_convex4(px4, py4, px, py):
    """Point strictly inside a CCW convex 4-gon (duplicate vertices OK)."""
    for i in range(4):
        x1, y1 = px4[i], py4[i]
        x2, y2 = px4[(i + 1) % 4], py4[(i + 1) % 4]
        if x1 == x2 and y1 == y2:
            continue
        if (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) <= 0:
            return False
    return True


class TestTrapezoidDecompose:
    def test_store_sweep_partition_and_closed_form(self):
        """Every graded store shape: piece-sum == closed-form area, and
        500 off-lattice sample points per shape land in the polygon iff
        they land in EXACTLY ONE piece (the partition proof — signed
        areas alone could cancel an overlap against a gap)."""
        rng = random.Random(14)
        for r in (12, 16):
            for d in (4, 8):
                for side in (1, 3):
                    xs, ys = _notched(120, 96, r, d, side)
                    a2, pieces = trapezoid_decompose(xs, ys)
                    assert a2 == 2 * (4 * r * r - 32 - 8 * d)
                    for _ in range(500):
                        # (odd/8, odd/16): strictly off axis lines
                        # (integer constants) and 45 deg lines (x+-y =
                        # odd/16, never integer) of BOTH the polygon
                        # and the vertical cut edges
                        px = Fraction(2 * rng.randrange(-80, 180) + 1, 8)
                        py = Fraction(2 * rng.randrange(-160, 360) + 1, 16)
                        inside = _even_odd_inside(xs, ys, px, py)
                        hits = sum(
                            1 for p4x, p4y in pieces
                            if _inside_convex4(p4x, p4y, px, py)
                        )
                        assert hits == (1 if inside else 0), (
                            r, d, side, px, py, inside, hits
                        )

    def test_multi_strip_slab_c_shape(self):
        """The left-notch store shape's notch slab must hold TWO strips
        (below and above the notch) — the branch an x-monotone-only
        sweep would get wrong."""
        xs, ys = _notched(0, 0, 12, 8, 3)
        _, pieces = trapezoid_decompose(xs, ys)
        # slabs starting at x = -12 and x = -8 each split into 2 strips
        assert len(pieces) == 6
        notch_slab = [p for p in pieces if p[0][0] == -12]
        assert len(notch_slab) == 2

    def test_rejects_cw_and_off_lattice(self):
        xs, ys = _notched(0, 0, 12, 4, 1)
        with pytest.raises(ValueError):
            trapezoid_decompose(xs[::-1], ys[::-1])  # CW
        with pytest.raises(ValueError):
            # slope 1/3 edge: y not integer at interior cuts
            trapezoid_decompose([0, 3, 3, 1, 0], [0, 1, 5, 5, 4])

    def test_random_comb_polygons_partition(self):
        """Random rightward COMBS (bar + k teeth — every tooth gap makes
        a multi-strip slab) in exact ints: piece areas sum to the
        shoelace and 200 sample points confirm the partition."""
        rng = random.Random(7)
        for _ in range(30):
            k = rng.randrange(2, 6)
            widths = [rng.randrange(1, 5) * 2 for _ in range(k)]
            # CCW: up the left edge, teeth emitted on the way DOWN the
            # right side profile
            xs, ys = [0], [0]
            top = 4 * k
            xs += [2]
            ys += [0]
            # right profile from bottom to top as (y, x) steps: teeth at
            # y in [4i+1, 4i+3) extend to 2+w_i
            prof = []
            for i in range(k):
                w = widths[i]
                prof += [
                    (4 * i + 1, 2), (4 * i + 1, 2 + w),
                    (4 * i + 3, 2 + w), (4 * i + 3, 2),
                ]
            # walk up the right side
            for y, x in prof:
                if ys[-1] != y:
                    xs.append(xs[-1])
                    ys.append(y)
                if xs[-1] != x:
                    xs.append(x)
                    ys.append(y)
            if ys[-1] != top:
                xs.append(xs[-1])
                ys.append(top)
            xs.append(0)
            ys.append(top)
            n = len(xs)
            a2, pieces = trapezoid_decompose(xs, ys)
            want = sum(
                xs[i] * ys[(i + 1) % n] - xs[(i + 1) % n] * ys[i]
                for i in range(n)
            )
            assert a2 == want
            for _ in range(200):
                px = Fraction(2 * rng.randrange(-2, 30) + 1, 8)
                py = Fraction(2 * rng.randrange(-4, 8 * k) + 1, 16)
                inside = _even_odd_inside(xs, ys, px, py)
                hits = sum(
                    1 for p4x, p4y in pieces
                    if _inside_convex4(p4x, p4y, px, py)
                )
                assert hits == (1 if inside else 0)


class TestConcaveClipFractionReference:
    def test_piece_sum_matches_fraction_difference_form(self):
        """400 random store-lattice pairs: the engine path (trapezoid
        pieces through the int64 kernel, summed) must equal the EXACT
        Fraction difference form (rational Sutherland-Hodgman clip of
        octagon and notch separately, areas subtracted) — two
        independent exact algorithms."""
        rng = random.Random(1414)
        agree_pos = 0
        for _ in range(400):
            r = rng.choice((12, 16))
            d = rng.choice((4, 8))
            side = rng.choice((1, 3))
            ax, ay = 4 * rng.randrange(0, 30), 4 * rng.randrange(0, 30)
            if rng.random() < 0.5:  # half the draws near-centered on A
                bx = ax + 4 * rng.randrange(-4, 5) + 2
                by = ay + 4 * rng.randrange(-4, 5) + 2
            else:
                bx = 4 * rng.randrange(0, 30) + 2
                by = 4 * rng.randrange(0, 30) + 2
            s = 4 * rng.randrange(0, 3) + 1
            dia = [(bx + s, by), (bx, by + s), (bx - s, by), (bx, by - s)]
            xs, ys = _notched(ax, ay, r, d, side)
            _, pieces = trapezoid_decompose(xs, ys)
            tot = 0
            cx = np.array([[p[0] for p in dia]], dtype=np.int64)
            cy = np.array([[p[1] for p in dia]], dtype=np.int64)
            for px4, py4 in pieces:
                sx = np.array([px4], dtype=np.int64)
                sy = np.array([py4], dtype=np.int64)
                _, ca = _clip_pieces_int64(sx, sy, cx, cy)
                _, cb = _clip_pieces_int64(cx, cy, sx, sy)
                tot += int(ca.sum() + cb.sum())
            octagon = [
                (ax - r + 4, ay - r), (ax + r - 4, ay - r),
                (ax + r, ay - r + 4), (ax + r, ay + r - 4),
                (ax + r - 4, ay + r), (ax - r + 4, ay + r),
                (ax - r, ay + r - 4), (ax - r, ay - r + 4),
            ]
            if side == 1:
                ntc = [(ax - 4, ay - r), (ax + 4, ay - r),
                       (ax + 4, ay - r + d), (ax - 4, ay - r + d)]
            else:
                ntc = [(ax - r, ay - 4), (ax - r + d, ay - 4),
                       (ax - r + d, ay + 4), (ax - r, ay + 4)]
            ref8 = 4 * (
                convex_poly_area2(convex_clip(octagon, dia))
                - convex_poly_area2(convex_clip(ntc, dia))
            )
            assert Fraction(tot) == ref8, (ax, ay, r, d, side, bx, by, s)
            if tot > 0:
                agree_pos += 1
        assert agree_pos > 100  # the biased half genuinely hits overlaps


# ---------------------------------------------------------------------------
# cell_bucketed_ring_join — the large-facility-dim NN join form (r13 #4)
# ---------------------------------------------------------------------------


class TestCellBucketedRingJoin:
    def _frames(self, spark, sf_dir):
        """The spatial_nn_join_ring point/facility-ring frames, verbatim
        derivations (position-dedup'd facilities, 3x3 ring, 32-unit
        cells)."""
        from pyspark.sql import functions as F

        from govgis_nov2023_slim_spatial_server_spark.schemas import load_table

        c = load_table(spark, sf_dir, "customer")
        ck = F.col("c_custkey")
        f = (
            c.where(ck % 10 == 1)
            .select(
                "c_custkey",
                ((ck % 50) * 8 + (ck % 7)).cast("long").alias("fx"),
                ((ck % 20) * 8 + (ck % 5)).cast("long").alias("fy"),
            )
            .groupBy("fx", "fy")
            .agg(F.min("c_custkey").alias("c_custkey"))
        )
        off = F.explode(F.sequence(F.lit(-1), F.lit(1)))
        fring = (
            f.withColumn("dxc", off)
            .withColumn("dyc", off)
            .select(
                "c_custkey", "fx", "fy",
                (F.expr("fx DIV 32") + F.col("dxc")).alias("cellx"),
                (F.expr("fy DIV 32") + F.col("dyc")).alias("celly"),
            )
        )
        p = load_table(spark, sf_dir, "part")
        pk = F.col("p_partkey")
        pc = p.select(
            "p_partkey",
            ((pk * 13) % 401).cast("long").alias("px"),
            ((pk * 29) % 161).cast("long").alias("py"),
            F.expr("((p_partkey * 13) % 401) DIV 32").alias("cellx"),
            F.expr("((p_partkey * 29) % 161) DIV 32").alias("celly"),
        )
        return pc, fring

    def test_no_exchange_feeds_join_and_matches_broadcast(self, spark):
        from pyspark.sql import functions as F

        from govgis_nov2023_slim_spatial_server_spark.operators.spatial_join import (
            cell_bucketed_ring_join,
        )

        pc, fring = self._frames(spark, "/root/testdata/sf0.001")
        cand = cell_bucketed_ring_join(
            spark, pc, fring, name_prefix="bkt_t14ring"
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        # co-located: nothing repartitions the cell key into the join,
        # the scans are bucketed, and the merge hint held (no broadcast
        # fallback hiding the co-location)
        assert "Exchange hashpartitioning(cellx" not in plan
        assert "Exchange hashpartitioning(celly" not in plan
        assert "Bucketed: true" in plan
        assert "SortMergeJoin" in plan
        assert "BroadcastExchange" not in plan

        bcast = pc.join(F.broadcast(fring), ["cellx", "celly"])
        got = sorted(
            tuple(r)
            for r in cand.select(
                "p_partkey", "c_custkey", "px", "py", "fx", "fy"
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in bcast.select(
                "p_partkey", "c_custkey", "px", "py", "fx", "fy"
            ).collect()
        )
        assert got == want and len(got) > 0

    def test_left_form_argmin_equals_entry_ring_branch(self, spark):
        """Running the k=1 sentinel argmin over the BUCKETED left join
        reproduces the broadcast path's per-point best exactly — the
        drop-in the entries document."""
        from pyspark.sql import functions as F

        from govgis_nov2023_slim_spatial_server_spark.operators.spatial_join import (
            cell_bucketed_ring_join,
        )

        pc, fring = self._frames(spark, "/root/testdata/sf0.001")

        def _best(cand):
            dsq = (
                (F.col("px") - F.col("fx")) * (F.col("px") - F.col("fx"))
                + (F.col("py") - F.col("fy")) * (F.col("py") - F.col("fy"))
            ).alias("dsq")
            return sorted(
                tuple(r)
                for r in (
                    cand.select(
                        "p_partkey",
                        F.coalesce(dsq, F.lit(2**62)).alias("dsq"),
                        F.coalesce(F.col("c_custkey"), F.lit(-1)).alias(
                            "c_custkey"
                        ),
                    )
                    .groupBy("p_partkey")
                    .agg(F.min(F.struct("dsq", "c_custkey")).alias("b"))
                    .select("p_partkey", "b.dsq", "b.c_custkey")
                ).collect()
            )

        bucketed = cell_bucketed_ring_join(
            spark, pc, fring, name_prefix="bkt_t14left", how="left"
        )
        broadcast = pc.join(F.broadcast(fring), ["cellx", "celly"], "left")
        assert _best(bucketed) == _best(broadcast)

    def test_rejects_unsweepable_prefix(self, spark):
        import pytest as _pt

        from govgis_nov2023_slim_spatial_server_spark.operators.spatial_join import (
            cell_bucketed_ring_join,
        )

        pc, fring = self._frames(spark, "/root/testdata/sf0.001")
        with _pt.raises(ValueError):
            cell_bucketed_ring_join(spark, pc, fring, name_prefix="nope")


# ---------------------------------------------------------------------------
# spatial_clip_general_pairs — general x general (both sides non-convex)
# ---------------------------------------------------------------------------


def _notched8(cx, cy, r, d, side):
    """The ×8-scaled notched octagon (corner cut 8, notch half-width 8)
    both general-clip stores build."""
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


class TestGeneralClipFractionReference:
    def test_mod8_congruence_classes(self):
        """The general-position scheme, enumerated: A line constants are
        ≡ 0 (mod 8) in x, y, x+y, x−y while B's are ≡ 2, 4, 6, 6 — the
        four families pairwise distinct, so no collinear overlap exists
        for ANY key pair, and every 45°×45° crossing x = (a+b)/2 has
        a+b ≡ 6 (mod 8), hence integer."""
        for k in range(1, 1200, 2):  # odd keys → A store
            cx, cy = 8 * (k % 569), 8 * (k % 587)
            r = 24 + 8 * ((k // 2) % 2)
            d = 8 + 8 * ((k // 4) % 2)
            xs, ys = _notched8(cx, cy, r, d, 1 if k % 4 == 1 else 3)
            n = len(xs)
            for i in range(n):
                x1, y1, x2, y2 = xs[i], ys[i], xs[(i + 1) % n], ys[(i + 1) % n]
                if x1 == x2:
                    assert x1 % 8 == 0
                elif y1 == y2:
                    assert y1 % 8 == 0
                else:
                    c = (x1 + y1) if (x2 - x1) == -(y2 - y1) else (x1 - y1)
                    assert c % 8 == 0
        for k in range(2, 1200, 2):  # even keys → B store
            cx, cy = 8 * (k % 593) + 2, 8 * (k % 599) + 4
            r = 24 + 8 * ((k // 2) % 2)
            d = 8 + 8 * ((k // 4) % 2)
            xs, ys = _notched8(cx, cy, r, d, 1 if k % 4 == 0 else 3)
            n = len(xs)
            for i in range(n):
                x1, y1, x2, y2 = xs[i], ys[i], xs[(i + 1) % n], ys[(i + 1) % n]
                if x1 == x2:
                    assert x1 % 8 == 2
                elif y1 == y2:
                    assert y1 % 8 == 4
                else:
                    c = (x1 + y1) if (x2 - x1) == -(y2 - y1) else (x1 - y1)
                    assert c % 8 == 6

    def test_piece_by_piece_sum_matches_fraction_inclusion_exclusion(self):
        """400 random store-lattice pairs: the engine path (BOTH sides
        trapezoid-decomposed, every piece×piece through the int64
        kernel, summed) must equal the EXACT Fraction inclusion-
        exclusion |OaOb| − |OaNb| − |NaOb| + |NaNb| via rational
        Sutherland–Hodgman — two independent exact algorithms, and the
        kernel's half-integer lattice assert doubles as the mod-8
        scheme's empirical proof."""
        rng = random.Random(888)
        pos = 0
        for _ in range(400):
            ra, rb = rng.choice((24, 32)), rng.choice((24, 32))
            da, db = rng.choice((8, 16)), rng.choice((8, 16))
            sa, sb = rng.choice((1, 3)), rng.choice((1, 3))
            ax, ay = 8 * rng.randrange(0, 14), 8 * rng.randrange(0, 14)
            if rng.random() < 0.5:
                bx = ax + 8 * rng.randrange(-6, 7) + 2
                by = ay + 8 * rng.randrange(-6, 7) + 4
            else:
                bx = 8 * rng.randrange(0, 14) + 2
                by = 8 * rng.randrange(0, 14) + 4
            axs, ays = _notched8(ax, ay, ra, da, sa)
            bxs, bys = _notched8(bx, by, rb, db, sb)
            _, pa = trapezoid_decompose(axs, ays)
            _, pb = trapezoid_decompose(bxs, bys)
            tot = 0
            for p4x, p4y in pa:
                sx = np.array([p4x], dtype=np.int64)
                sy = np.array([p4y], dtype=np.int64)
                for q4x, q4y in pb:
                    cx = np.array([q4x], dtype=np.int64)
                    cy = np.array([q4y], dtype=np.int64)
                    _, ca = _clip_pieces_int64(sx, sy, cx, cy)
                    _, cb = _clip_pieces_int64(cx, cy, sx, sy)
                    tot += int(ca.sum() + cb.sum())
            Oa, Na = _oct8(ax, ay, ra), _ntc8(ax, ay, ra, da, sa)
            Ob, Nb = _oct8(bx, by, rb), _ntc8(bx, by, rb, db, sb)

            def _a2(p, q):
                return convex_poly_area2(convex_clip(p, q))

            ref8 = 4 * (_a2(Oa, Ob) - _a2(Oa, Nb) - _a2(Na, Ob) + _a2(Na, Nb))
            assert Fraction(tot) == ref8, (ax, ay, ra, da, sa, bx, by, rb, db, sb)
            if tot > 0:
                pos += 1
        assert pos > 100
