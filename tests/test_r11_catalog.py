"""Targeted fixtures for the r11 catalog entries."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.catalog import QUERIES


def _write_docs(rows, tmp_path):
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["s"] * len(rows),
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)


def test_pps_systematic_sample_invariants_and_multipick(spark, tmp_path):
    """Systematic PPS: every pick position ⌊(2j+1)W/2k⌋ lies in [0, W),
    so the total pick count is EXACTLY k=10 on any corpus, and a document
    with w > W/k must be picked at least twice (here one 60-token doc
    against 4 one-token docs: w=60, W=64, W/k=6.4 → ⌈w·k/W⌉ ≥ 9 picks)."""
    heavy = " ".join(["tok"] * 60)
    _write_docs(
        [(1, "a"), (2, heavy), (3, "b"), (4, "c"), (5, "d")], tmp_path
    )
    got = {
        r["doc_id"]: (r["w"], r["n_picks"])
        for r in QUERIES["pps_systematic_sample"](spark, str(tmp_path)).collect()
    }
    assert sum(n for _, n in got.values()) == 10
    assert got[2][0] == 60 and got[2][1] >= 9
    # deterministic: a second run returns the identical multiset
    again = {
        r["doc_id"]: (r["w"], r["n_picks"])
        for r in QUERIES["pps_systematic_sample"](spark, str(tmp_path)).collect()
    }
    assert again == got


def test_runs_to_rings_fixtures():
    """Ring reconstruction on hand-built cell sets: single cell, donut
    (hole ring), disjoint islands, L-shape corner compression, shell AND
    hole checkerboard pinches (both must split into SIMPLE rings), and
    an island nested inside a hole."""
    from govgis_nov2023_slim_spatial_server_spark.operators.dissolve import (
        _shoelace2,
        runs_to_rings,
    )

    def simple(r):
        return len(set(r[:-1])) == len(r) - 1

    p, n, ext = runs_to_rings([(0, 0, 0)])
    assert n == 1 and len(p) == 1 and len(p[0][0]) - 1 == 4
    assert ext == (0, 0, 1, 1)

    p, n, _ = runs_to_rings([(0, 0, 2), (1, 0, 0), (1, 2, 2), (2, 0, 2)])
    assert n == 8 and len(p) == 1 and len(p[0]) == 2  # donut: shell + hole
    assert _shoelace2(p[0][0]) == 18 and _shoelace2(p[0][1]) == -2

    p, n, _ = runs_to_rings([(0, 0, 0), (0, 5, 6)])
    assert n == 3 and len(p) == 2  # disjoint islands

    p, n, _ = runs_to_rings([(0, 0, 1), (1, 0, 0)])
    assert n == 3 and len(p[0][0]) - 1 == 6  # L-shape: 6 corners kept

    # SHELL pinch: two covered cells touching diagonally → 2 simple rings
    p, n, _ = runs_to_rings([(0, 0, 0), (1, 1, 1)])
    assert n == 2 and len(p) == 2
    assert all(simple(r) for poly in p for r in poly)

    # HOLE pinch: two uncovered cells touching diagonally inside a block
    # → shell + 2 SIMPLE holes (the figure-eight repair path)
    p, n, _ = runs_to_rings(
        [(0, 0, 3), (1, 0, 0), (1, 2, 3), (2, 0, 1), (2, 3, 3), (3, 0, 3)]
    )
    assert n == 14 and len(p) == 1 and len(p[0]) == 3
    assert all(simple(r) for poly in p for r in poly)
    assert sorted(_shoelace2(r) for r in p[0]) == [-2, -2, 32]

    # nesting: 5x5 shell, 3x3 hole, 1x1 island inside the hole
    runs = [(0, 0, 4), (1, 0, 0), (1, 4, 4), (2, 0, 0), (2, 2, 2), (2, 4, 4),
            (3, 0, 0), (3, 4, 4), (4, 0, 4)]
    p, n, _ = runs_to_rings(runs)
    assert n == 17 and len(p) == 2
    assert sorted(len(poly) for poly in p) == [1, 2]  # hole on the big shell


def test_runs_to_rings_random_membership_exact():
    """300 random cell sets: the emitted MULTIPOLYGON's even-odd
    membership is bit-identical to the input set at EVERY cell center
    (incl. a one-cell margin outside), all rings are simple, and the
    shoelace area over the parsed WKB equals the cell count exactly."""
    import random

    import numpy as np

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        parse_wkb_polygons,
        points_in_polys,
        polygons_area_centroid,
        wkb_multipolygon,
    )
    from govgis_nov2023_slim_spatial_server_spark.operators.dissolve import (
        runs_to_rings,
    )

    rng = random.Random(20260815)
    for trial in range(300):
        w_, h_ = rng.randint(1, 9), rng.randint(1, 9)
        dens = rng.choice([0.25, 0.5, 0.75])
        cells = {
            (x, y)
            for x in range(w_)
            for y in range(h_)
            if rng.random() < dens
        }
        if not cells:
            continue
        runs = []
        for y in sorted({c[1] for c in cells}):
            xs = sorted(x for x, yy in cells if yy == y)
            s = prev = xs[0]
            for x in xs[1:]:
                if x == prev + 1:
                    prev = x
                else:
                    runs.append((y, s, prev))
                    s = prev = x
            runs.append((y, s, prev))
        polys, n, _ = runs_to_rings(runs)
        assert n == len(cells), trial
        for poly in polys:
            for r in poly:
                assert len(set(r[:-1])) == len(r) - 1, (trial, r)
        wkb = wkb_multipolygon(
            [[[(float(x), float(y)) for x, y in r] for r in poly] for poly in polys]
        )
        parsed = parse_wkb_polygons(wkb)
        gx, gy = np.meshgrid(
            np.arange(-1, w_ + 1) + 0.5, np.arange(-1, h_ + 1) + 0.5
        )
        mask = points_in_polys(parsed, gx.ravel(), gy.ravel())
        want = np.array(
            [
                (int(px - 0.5), int(py - 0.5)) in cells
                for px, py in zip(gx.ravel(), gy.ravel())
            ]
        )
        assert (mask == want).all(), trial
        area, _, _ = polygons_area_centroid(parsed)
        assert area == float(len(cells)), trial


def test_union_rings_store_integration(spark):
    """On the real sf0.001 polygon store: every nation's emitted WKB
    parses, holes exist (donut polygons live in the store), and the
    ring-shoelace cell count per nation equals the independent
    DISTINCT-occupied-cell count of `spatial_union_area`'s DuckDB oracle,
    which decides every cell from the closed-form shape predicates."""
    import duckdb

    from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES
    from govgis_nov2023_slim_spatial_server_spark.catalog.geo_analytics import (
        _occupied_runs,
    )
    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        parse_wkb_polygons,
    )
    from govgis_nov2023_slim_spatial_server_spark.operators.dissolve import (
        union_rings_by_key,
    )

    sf = "/root/testdata/sf0.001"
    geo = union_rings_by_key(_occupied_runs(spark, sf)).collect()
    con = duckdb.connect()
    for t in ("customer", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    names = dict(con.execute("SELECT n_nationkey, n_name FROM nation").fetchall())
    want = dict(
        con.execute(
            f"SELECT n_name, n_cells FROM ({ORACLES['spatial_union_area']})"
        ).fetchall()
    )
    con.close()
    assert len(geo) == len(want)
    saw_hole = False
    for row in geo:
        assert row["n_cells"] == want[names[row["c_nationkey"]]]
        polys = parse_wkb_polygons(bytes(row["geom_wkb"]))
        assert len(polys) == row["n_polys"]
        assert sum(len(p) for p in polys) == row["n_rings"]
        saw_hole = saw_hole or any(len(p) > 1 for p in polys)
    assert saw_hole  # donut stores must survive dissolve as holes


def test_buffer_rings_contains_union_rings(spark):
    """Buffered geometry must strictly contain the raw union per nation
    (≥ cells, extent wider by exactly R=4 cells = 0.25° on every side —
    dilation of a nonempty set extends its bbox by exactly R), and merge
    polygons (≤ polys after dilation). WKB parses for every nation."""
    from govgis_nov2023_slim_spatial_server_spark.catalog import QUERIES
    from govgis_nov2023_slim_spatial_server_spark.catalog.geo_analytics import (
        _occupied_runs,
    )
    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        parse_wkb_polygons,
    )
    from govgis_nov2023_slim_spatial_server_spark.operators.dissolve import (
        merge_runs,
        union_rings_by_key,
    )

    sf = "/root/testdata/sf0.001"
    union = {
        r["n_name"]: r for r in QUERIES["spatial_union_rings"](spark, sf).collect()
    }
    buf = {
        r["n_name"]: r for r in QUERIES["spatial_buffer_rings"](spark, sf).collect()
    }
    assert set(union) == set(buf)
    for n_name, u in union.items():
        b = buf[n_name]
        assert b["n_cells"] > u["n_cells"]
        assert abs((u["x_min"] - b["x_min"]) - 0.25) < 1e-12
        assert abs((b["x_max"] - u["x_max"]) - 0.25) < 1e-12
        assert abs((u["y_min"] - b["y_min"]) - 0.25) < 1e-12
        assert abs((b["y_max"] - u["y_max"]) - 0.25) < 1e-12
    # every nation's dissolved WKB parses, and dilation cannot increase
    # the polygon count (0.25° reach merges nearby regions)
    raw = {
        r["c_nationkey"]: r
        for r in union_rings_by_key(
            merge_runs(_occupied_runs(spark, sf))
        ).collect()
    }
    R = 4
    dil_runs = merge_runs(
        _occupied_runs(spark, sf).select(
            "c_nationkey", "iy",
            (F.col("x0") - R).alias("x0"), (F.col("x1") + R).alias("x1"),
        )
    ).select(
        "c_nationkey",
        F.explode(F.sequence(F.col("iy") - R, F.col("iy") + R)).alias("iy"),
        "x0", "x1",
    )
    dil = {
        r["c_nationkey"]: r
        for r in union_rings_by_key(merge_runs(dil_runs)).collect()
    }
    for nk, row in raw.items():
        assert parse_wkb_polygons(bytes(row["geom_wkb"]))  # parses
        assert parse_wkb_polygons(bytes(dil[nk]["geom_wkb"]))
        assert dil[nk]["n_polys"] <= row["n_polys"]


def test_substring_dup_chains_exact_passage_length(spark, tmp_path):
    """Diagonal chaining recovers the EXACT longest shared token
    substring: docs 1/2 share a verbatim 9-token passage (at different
    offsets), docs 1/3 share only a 3-token run (below the 4-gram
    resolution floor → no pair emitted), and doc 4 repeats the passage
    twice so the (1,4) pair must chain on TWO diagonals."""
    passage = "p q r s t u v w x"
    _write_docs(
        [
            (1, f"a b c {passage} d e"),
            (2, f"zz yy {passage} kk"),
            (3, "p q r mm nn oo pp qq rr ss tt uu"),
            (4, f"{passage} mid1 mid2 {passage}"),
        ],
        tmp_path,
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in QUERIES["substring_dup_chains"](spark, str(tmp_path)).collect()
    }
    assert rows[(1, 2)]["longest_tokens"] == 9  # exactly the passage
    assert rows[(1, 2)]["n_chains"] == 1 and rows[(1, 2)]["shared_grams"] == 6
    assert (1, 3) not in rows  # 3-token overlap is below the n−1 floor
    assert rows[(1, 4)]["longest_tokens"] == 9
    assert rows[(1, 4)]["n_chains"] == 2  # two alignments, two diagonals
    assert rows[(2, 4)]["longest_tokens"] == 9


def test_prefix_filter_jaccard_boundary_and_pruning(spark, tmp_path):
    """Prefix filtering: (a) completeness at the EXACT threshold —
    shingle sets {abc,bcd,cde,def} vs {abc,bcd,cde,dex} have J = 3/5
    precisely (8·3 = 3·8), so the pair must be emitted; a 2-shared
    variant (J = 1/3) must not; (b) pruning — docs sharing only
    HIGH-df shingles (a common 12-token tail behind an 8-token unique
    head) produce ZERO prefix candidates where a plain inverted index
    joins every pair, because the prefix holds the rarest shingles and
    the shared tail never enters it."""
    common = " ".join(f"c{i}" for i in range(12))
    docs = [(1, "a b c d e f"), (2, "a b c d e x")]
    docs += [
        (10 + i, " ".join(f"u{i}_{j}" for j in range(8)) + " " + common)
        for i in range(6)
    ]
    _write_docs(docs, tmp_path)
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in QUERIES["prefix_filter_jaccard_pairs"](
            spark, str(tmp_path)
        ).collect()
    }
    assert (1, 2) in rows and rows[(1, 2)]["inter"] == 3
    assert rows[(1, 2)]["union_sz"] == 5 and rows[(1, 2)]["jaccard"] == 0.6
    assert all(a == 1 and b == 2 for a, b in rows)  # tail-sharers: none

    # pruning vs the plain inverted index on the tail-sharing block
    from govgis_nov2023_slim_spatial_server_spark.functions.hashes import (
        word_shingles,
    )

    d = spark.read.parquet(str(tmp_path / "documents.parquet")).where(
        F.col("doc_id") >= 10
    )
    ex = d.select("doc_id", F.explode(word_shingles("text", 3)).alias("shs"))
    full_pairs = (
        ex.alias("a")
        .join(ex.alias("b"), "shs")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert full_pairs == 15  # every pair shares the common tail


def test_quota_stratified_split_exact_apportionment(spark, tmp_path):
    """Largest-remainder quotas: per-stratum quotas must sum EXACTLY to
    (4·N) DIV 5, each quota within 1 of 4n/5, and the +1s go to the
    largest remainders with the key tie-break."""
    import pandas as pd

    strata = ["1-URGENT"] * 7 + ["2-HIGH"] * 6 + ["3-MEDIUM"] * 4 + ["5-LOW"] * 1
    pd.DataFrame(
        {
            "o_orderkey": range(1, len(strata) + 1),
            "o_custkey": [1] * len(strata),
            "o_orderstatus": ["O"] * len(strata),
            "o_totalprice": [100.0] * len(strata),
            "o_orderdate": pd.to_datetime(["1995-01-01"] * len(strata)),
            "o_orderpriority": strata,
        }
    ).to_parquet(tmp_path / "orders.parquet", index=False)
    got = {
        r["o_orderpriority"]: (r["n_rows"], r["train_quota"])
        for r in QUERIES["quota_stratified_split"](spark, str(tmp_path)).collect()
    }
    # N=18 → target 14; floors: 7→5 r3, 6→4 r4, 4→3 r1, 1→0 r4; base 12,
    # extra 2 → the two rem-4 strata (2-HIGH, 5-LOW) get +1
    assert got == {
        "1-URGENT": (7, 5),
        "2-HIGH": (6, 5),
        "3-MEDIUM": (4, 3),
        "5-LOW": (1, 1),
    }
    assert sum(q for _, q in got.values()) == (4 * 18) // 5


def test_pps_systematic_sample_plan_broadcasts_points(spark, tmp_path):
    """The k-point probe side must broadcast — the corpus side never
    shuffles for the pick join (only the documented test-scale global
    cumsum window sorts)."""
    _write_docs([(1, "a b c"), (2, "d e"), (3, "f")], tmp_path)
    plan = (
        QUERIES["pps_systematic_sample"](spark, str(tmp_path))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
