"""r9 catalog entries: skyline tie semantics + plan shape, interval
union edge cases, time-weighted average arithmetic."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES, QUERIES


def _write_part(rows, d):
    df = pd.DataFrame(
        rows, columns=["p_partkey", "p_retailprice", "p_size"]
    ).astype({"p_partkey": "int64", "p_retailprice": "float64", "p_size": "int32"})
    df["p_name"] = [f"part {k}" for k in df.p_partkey]
    df["p_brand"] = "Brand#1"
    df["p_type"] = "ECONOMY ANODIZED STEEL"
    df.to_parquet(f"{d}/part.parquet", index=False)


def test_pareto_frontier_tie_semantics(spark, tmp_path):
    """Strict-dominance ties, enumerated: equal (price, size) duplicates
    survive TOGETHER; equal price + larger size dominates; equal size +
    lower price dominates; incomparable rows all survive."""
    rows = [
        (1, 100.0, 10),  # frontier
        (2, 100.0, 10),  # exact duplicate of 1 -> also frontier
        (3, 100.0, 9),  # dominated by 1 (equal price, smaller size)
        (4, 120.0, 10),  # dominated by 1 (equal size, higher price)
        (5, 90.0, 5),  # frontier (cheaper, smaller: incomparable with 1)
        (6, 80.0, 2),  # frontier
        (7, 95.0, 5),  # dominated by 5 (equal size, higher price)
        (8, 200.0, 50),  # frontier (largest)
    ]
    _write_part(rows, tmp_path)
    got = sorted(
        r["p_partkey"]
        for r in QUERIES["pareto_frontier_parts"](spark, str(tmp_path)).collect()
    )
    assert got == [1, 2, 5, 6, 8]


def test_pareto_frontier_plan_has_no_join(spark, sf_dir):
    """The engine side is the two-phase sweep — the quadratic self join
    lives ONLY in the oracle. Phase 1 is exchange-free (local sort +
    mapInPandas), so the plan's ONE Exchange is the tiny global-phase
    survivor shuffle; no Join node anywhere."""
    plan = (
        QUERIES["pareto_frontier_parts"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "Window" in plan
    assert plan.count("Exchange") == 1, plan


def test_pareto_frontier_partition_invariance(spark, tmp_path):
    """The local-prune phase keys on spark_partition_id; the result is a
    set property of the data and must not depend on the physical layout."""
    rows = [(k, float(100 + (k * 37) % 50), int(1 + (k * 13) % 20)) for k in range(1, 41)]
    _write_part(rows, tmp_path)
    base = QUERIES["pareto_frontier_parts"](spark, str(tmp_path))
    one = sorted(r["p_partkey"] for r in base.collect())
    # force a different partitioning of the same rows through a temp view
    repart = (
        spark.read.parquet(f"{tmp_path}/part.parquet").repartition(7).localCheckpoint()
    )
    import govgis_nov2023_slim_spatial_server_spark.catalog.relational as rel

    orig = rel.load_table
    try:
        rel.load_table = lambda s, sf, name: repart if name == "part" else orig(s, sf, name)
        two = sorted(
            r["p_partkey"]
            for r in QUERIES["pareto_frontier_parts"](spark, str(tmp_path)).collect()
        )
    finally:
        rel.load_table = orig
    assert one == two


def test_interval_union_touching_and_containment(spark, tmp_path):
    """[s, e) touching intervals merge; contained intervals add nothing."""
    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = [
        # user 1: 0s and 300s touch -> one island of 600s; 100s is contained
        (1, 1, 0),
        (2, 1, 300),
        (3, 1, 100),
        # user 2: disjoint islands (0..300, 1000..1300)
        (4, 2, 0),
        (5, 2, 1000),
        # user 3: single event
        (6, 3, 42),
    ]
    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "user_id": [r[1] for r in rows],
            "ts": [base + pd.Timedelta(seconds=r[2]) for r in rows],
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(f"{tmp_path}/events.parquet", index=False)
    out = {
        r["user_id"]: (r["n_islands"], r["covered_seconds"], r["longest_island_seconds"])
        for r in QUERIES["interval_union_seconds"](spark, str(tmp_path)).collect()
    }
    assert out[1] == (1, 600, 600)
    assert out[2] == (2, 600, 300)
    assert out[3] == (1, 300, 300)


def test_time_weighted_avg_locf(spark, tmp_path):
    """Hand-computed LOCF weighting: value 10.0 held 100 s then 20.0 held
    300 s -> twa = (10*100 + 20*300) / 400 = 17.5; a same-second burst
    (dt=0 segments) contributes no weight; single-event users are absent
    (no segment), all-same-second users have NULL twa."""
    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = [
        (1, 1, 0, 10.0),
        (2, 1, 100, 20.0),
        (3, 1, 400, 99.0),  # terminal reading: no successor, no weight
        (4, 2, 7, 5.0),  # single event -> no segments -> absent
        (5, 3, 9, 1.0),
        (6, 3, 9, 2.0),  # same second: one zero-width segment -> NULL twa
    ]
    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "user_id": [r[1] for r in rows],
            "ts": [base + pd.Timedelta(seconds=r[2]) for r in rows],
            "event_type": "view",
            "value": [r[3] for r in rows],
            "props": "{}",
        }
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(f"{tmp_path}/events.parquet", index=False)
    out = {
        r["user_id"]: (r["n_segments"], r["span_seconds"], r["twa_value"])
        for r in QUERIES["time_weighted_avg_value"](spark, str(tmp_path)).collect()
    }
    assert out[1] == (2, 400, 17.5)
    assert 2 not in out
    assert out[3] == (1, 0, None)


def test_interval_union_single_exchange(spark, sf_dir):
    """Both windows and both aggregates key on user_id: exactly ONE
    shuffle in the whole plan."""
    plan = (
        QUERIES["interval_union_seconds"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, plan


def test_stream_cdc_apply_out_of_order_versions(spark, tmp_path):
    """A later-ARRIVING batch carrying an OLDER version of a key must
    lose the merge: event_id order (= staged arrival order) runs against
    ts order here, so user 1's final row is the ts-latest value (2.0,
    event 2) even though event 5 (value 9.0, much older ts) arrives two
    batches later. User 2's insert arrives only in the last batch."""
    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = [  # (event_id, user_id, seconds, value)
        (1, 1, 1000, 1.0),
        (2, 1, 5000, 2.0),  # the true last writer for user 1
        (3, 1, 3000, 3.0),
        (4, 1, 4000, 4.0),
        (5, 1, 10, 9.0),  # arrives LAST (highest event_id bucket), oldest ts
        (6, 2, 7, 7.5),
    ]
    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "user_id": [r[1] for r in rows],
            "ts": [base + pd.Timedelta(seconds=r[2]) for r in rows],
            "event_type": ["view", "click", "view", "view", "error", "signup"],
            "value": [r[3] for r in rows],
            "props": "{}",
        }
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(f"{tmp_path}/events.parquet", index=False)
    out = {
        r["event_type"]: (r["n_users"], r["sum_last_value_e4"])
        for r in QUERIES["stream_cdc_apply"](spark, str(tmp_path)).collect()
    }
    # user 1 -> ('click', 2.0) wins; user 2 -> ('signup', 7.5)
    assert out == {"click": (1, 20000), "signup": (1, 75000)}


def test_stream_cdc_apply_null_user_is_one_key(spark, tmp_path):
    """NULL is one key, as the oracle's PARTITION BY user_id reads it:
    NULL-user changes arrive in all three batches (events 1, 5 and 9)
    and merge into ONE snapshot row, the version-latest (event 5; event
    9 arrives last with an older ts and must lose)."""
    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = [  # (event_id, user_id, seconds, event_type, value)
        (1, None, 100, "view", 1.0),
        (2, 1, 200, "click", 2.0),
        (3, 2, 300, "view", 3.0),
        (4, 1, 400, "view", 4.0),
        (5, None, 500, "click", 5.0),
        (6, 3, 600, "click", 6.0),
        (7, 2, 700, "click", 7.0),
        (8, 3, 50, "view", 8.0),
        (9, None, 50, "view", 9.0),
    ]
    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "user_id": pd.array([r[1] for r in rows], dtype="Int64"),
            "ts": [base + pd.Timedelta(seconds=r[2]) for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [r[4] for r in rows],
            "props": "{}",
        }
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(f"{tmp_path}/events.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    want = {r[0]: r[1:] for r in con.execute(ORACLES["stream_cdc_apply"]).fetchall()}
    con.close()
    got = {
        r["event_type"]: (r["n_users"], r["sum_last_value_e4"])
        for r in QUERIES["stream_cdc_apply"](spark, str(tmp_path)).collect()
    }
    # users NULL -> click 5.0, 1 -> view 4.0, 2 -> click 7.0, 3 -> click 6.0
    assert want == {"click": (3, 180000), "view": (1, 40000)}
    assert got == want


def test_wkb_linestring_codec_and_length():
    """LINESTRING/MULTILINESTRING encode→decode roundtrip; ST_Length
    semantics: polygons and points contribute 0 length and 0 linear
    points; a closed linestring is still linear (PostGIS parity); the
    multi split at a shared vertex preserves total length; malformed or
    NULL input yields all-NULL in-band."""
    import math
    import struct

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        wkb_length_npoints,
        wkb_linestring,
        wkb_linestrings,
        wkb_multilinestring,
        wkb_point,
        wkb_polygon,
    )

    pts = [(0.0, 0.0), (3.0, 4.0), (3.0, 8.0)]
    ln, n = wkb_length_npoints(wkb_linestring(pts))
    assert (ln, n) == (9.0, 3)

    # multi split at the shared vertex: same segments, one extra point
    multi = wkb_multilinestring([pts[:2], pts[1:]])
    ln_m, n_m = wkb_length_npoints(multi)
    assert (ln_m, n_m) == (9.0, 4)
    assert [a.shape[0] for a in wkb_linestrings(multi)] == [2, 2]

    # closed ring AS a linestring is linear; as a polygon it is not
    ring = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]
    assert wkb_length_npoints(wkb_linestring(ring)) == (4.0, 5)
    assert wkb_length_npoints(wkb_polygon([ring])) == (0.0, 0)
    assert wkb_length_npoints(wkb_point(2.0, 3.0)) == (0.0, 0)

    # GEOMETRYCOLLECTION mixing all three: only the line counts, and the
    # polygon/point members must still be walked over correctly
    gc = (
        struct.pack("<BII", 1, 7, 3)
        + wkb_polygon([ring])
        + wkb_linestring(pts)
        + wkb_point(9.0, 9.0)
    )
    assert wkb_length_npoints(gc) == (9.0, 3)

    # in-band error contract
    assert wkb_length_npoints(None) == (None, None)
    assert wkb_length_npoints(b"\x01\x02garbage") == (None, None)
    assert wkb_length_npoints(b"") == (None, None)

    # sequential-fold order: irrational segments summed left to right
    zig = [(0.0, 0.0), (1.0, 1.0), (2.0, 0.0), (4.0, 1.0)]
    want = 0.0
    for (x1, y1), (x2, y2) in zip(zig, zig[1:]):
        want += math.sqrt((x2 - x1) ** 2 + (y2 - y1) ** 2)
    got, _ = wkb_length_npoints(wkb_linestring(zig))
    assert got == want  # bit-identical, not approx


def test_spatial_linestring_length_plan_is_map_only(spark, sf_dir):
    """One scan, encode+decode UDFs, no Exchange anywhere."""
    plan = (
        QUERIES["spatial_linestring_length"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_pq_adc_codeword_roundtrip(spark, tmp_path):
    """A vector that IS codeword c must encode to (c,c,c,c) with in-cell
    distance 0, and its ADC distance must equal the plain LUT sum for
    those codes — the quantization error of a codebook member is zero by
    construction, so ADC == the probe's true distance to that codeword."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(0.0, 0.5, size=(8, 64)).astype(np.float32)
    # spread codewords far apart so argmin is unambiguous
    for c in range(8):
        base[c] += c * 3.0
    extra = base[3].copy()  # an exact duplicate of codeword 3
    x = np.vstack([base, extra, rng.normal(0, 0.5, size=(3, 64)).astype(np.float32)])
    df = pd.DataFrame(
        {
            "vec_id": range(1, len(x) + 1),
            "embedding": [row.tolist() for row in x.astype(np.float32)],
            "label": [0] * len(x),
        }
    )
    df.to_parquet(f"{tmp_path}/embeddings.parquet", index=False)
    out = {
        r["vec_id"]: (r["code0"], r["code1"], r["code2"], r["code3"])
        for r in QUERIES["pq_adc_topk"](spark, str(tmp_path)).collect()
    }
    # vec_id 4 IS codeword 3 (vec_ids 1..8 are the codebook); vec 9 is its dup
    if 4 in out:
        assert out[4] == (3, 3, 3, 3)
    if 9 in out:
        assert out[9] == (3, 3, 3, 3)


def test_pq_adc_plan_single_scan_topk(spark, sf_dir):
    """Query-time plan: ONE embeddings scan feeding TakeOrderedAndProject;
    no join (the LUT is literal arrays) and no shuffle beyond top-k."""
    plan = (
        QUERIES["pq_adc_topk"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Scan parquet") == 1


def test_stream_left_outer_join_null_emission(spark, tmp_path):
    """The streaming-specific contract: a purchase with NO qualifying
    click emits exactly one NULL-click row once the watermark proves no
    match can arrive; matched purchases emit one row per match and no
    null row; clicks AFTER the purchase never match. A purchase with a
    NULL user is a real row too: it never equi-joins, so it emits its
    NULL-click row with a NULL user, as the oracle's LEFT JOIN does (the
    sink-side sentinel filter must not drop it)."""
    base = pd.Timestamp("2024-03-01 00:00:00")
    rows = [  # (event_id, user_id, seconds, type)
        (1, 1, 1000, "click"),
        (2, 1, 1500, "purchase"),  # matches click 1
        (3, 2, 1600, "purchase"),  # no click at all -> NULL row
        (4, 3, 5000, "purchase"),  # click arrives later -> NULL row
        (5, 3, 6000, "click"),
        (6, 4, 9000, "click"),
        (7, 4, 9100, "click"),
        (8, 4, 9200, "purchase"),  # two matches -> two rows
        (9, None, 9300, "purchase"),  # NULL user -> NULL row, NULL user
    ]
    df = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "user_id": pd.array([r[1] for r in rows], dtype="Int64"),
            "ts": [base + pd.Timedelta(seconds=r[2]) for r in rows],
            "event_type": [r[3] for r in rows],
            "value": 1.0,
            "props": "{}",
        }
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(f"{tmp_path}/events.parquet", index=False)
    out = QUERIES["stream_left_outer_join"](spark, str(tmp_path)).collect()
    got = sorted((r["purchase_id"], r["click_id"]) for r in out)
    assert got == [(2, 1), (3, None), (4, None), (8, 6), (8, 7), (9, None)]
    assert [r["user_id"] for r in out if r["purchase_id"] == 9] == [None]


def test_spatial_union_area_dedups_overlap(spark, tmp_path):
    """Two same-origin L-shapes (keys 1 and 81 share x0/y0 modulos; the
    smaller is contained in the larger) must count their cells ONCE:
    union area = area of the larger L alone (2.0*1.25 - 1.0*0.625 =
    1.875), NOT the 3.046875 a per-polygon area sum would give —
    the exact overlap-dedup property that distinguishes ST_Union from
    spatial_dissolve_extent's sum."""
    customer = pd.DataFrame(
        {
            "c_custkey": pd.array([1, 81], dtype="int64"),
            "c_name": ["Customer#1", "Customer#81"],
            "c_nationkey": pd.array([2, 2], dtype="int32"),
            "c_acctbal": [0.0, 0.0],
            "c_mktsegment": ["BUILDING", "BUILDING"],
        }
    )
    customer.to_parquet(f"{tmp_path}/customer.parquet", index=False)
    nation = pd.DataFrame(
        {
            "n_nationkey": pd.array([2], dtype="int32"),
            "n_name": ["CANADA"],
            "n_regionkey": pd.array([0], dtype="int32"),
        }
    )
    nation.to_parquet(f"{tmp_path}/nation.parquet", index=False)
    rows = QUERIES["spatial_union_area"](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_name"] == "CANADA"
    assert r["n_cells"] == 480
    assert r["union_area"] == 1.875


def test_spatial_union_area_plan(spark, sf_dir):
    """One mapInPandas rasterize pass (WKB crosses Arrow once per
    polygon, never once per cell) -> distinct on integer cell ids ->
    broadcast nation join -> count. No geometry-vs-geometry join."""
    plan = (
        QUERIES["spatial_union_area"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" not in plan


def test_pq_trained_codebook(spark):
    """VERDICT r9 #6: the pq_adc_topk docstring claims a trained codebook
    is "one lloyd_iterate call away and changes nothing below" — prove it.
    Three Lloyd iterations from the same 8 sampled seeds must (a) plug
    straight into pq_adc_rank, (b) strictly reduce quantization
    distortion (Lloyd is monotone; the 1/1024 grid perturbation is far
    below the improvement on this corpus), and (c) not lose ADC
    recall@10 against the exact L2 top-10 for the fixed probe."""
    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.catalog.vector_text import (
        PROBE_VEC,
        pq_adc_rank,
    )
    from govgis_nov2023_slim_spatial_server_spark.functions.vector import (
        euclidean_distance,
    )
    from govgis_nov2023_slim_spatial_server_spark.operators.kmeans import (
        assign_nearest,
        lloyd_iterate,
    )
    from govgis_nov2023_slim_spatial_server_spark.schemas import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seeds = [
        (i, [float(x) for x in r["embedding"]])
        for i, r in enumerate(e.orderBy("vec_id").limit(8).collect())
    ]
    trained = lloyd_iterate(e, seeds, n_iter=3)
    assert len(trained) == 8 and all(len(v) == 64 for _, v in trained)

    def distortion(cb):
        a = assign_nearest(e, cb)
        return a.agg(F.sum(F.col("dist") * F.col("dist")).alias("d")).first()["d"]

    d_sampled, d_trained = distortion(seeds), distortion(trained)
    assert d_trained < d_sampled, (d_trained, d_sampled)

    exact10 = {
        r["vec_id"]
        for r in e.orderBy(
            euclidean_distance("embedding", PROBE_VEC).asc(), F.col("vec_id").asc()
        )
        .limit(10)
        .collect()
    }

    def recall(cb):
        got = {r["vec_id"] for r in pq_adc_rank(spark, e, [v for _, v in cb]).collect()}
        return len(got & exact10) / 10.0

    r_sampled, r_trained = recall(seeds), recall(trained)
    assert r_trained >= r_sampled, (r_trained, r_sampled)
