"""Targeted fixtures for the r12 catalog entries: boolean geometry
(intersection/difference sweep), grid-snapped general-polygon union, and
the substring-dedup trim action."""

from __future__ import annotations

import random

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


def _cells_to_runs(cells):
    """(x, y) cell set → [(y, x0, x1)] maximal runs."""
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
    return runs


def _tagged_df(spark, a_cells, b_cells, key=0):
    """Layer-tagged maximal runs of two cell sets: A = layer 1, B = 0."""
    rows = [
        (key, y, x0, x1, layer)
        for layer, cells in ((1, a_cells), (0, b_cells))
        for y, x0, x1 in _cells_to_runs(cells)
    ]
    return spark.createDataFrame(
        rows, "c_nationkey long, iy long, x0 long, x1 long, layer int"
    )


def test_boolean_runs_random_exact(spark):
    """40 random two-layer cell sets (one per key, all in one frame):
    every boolean_runs mode reproduces the brute-force cell-set
    operation exactly — including layers with overlapping (unmerged)
    runs, which the counter sweep must handle without pre-merging — and
    returns MAXIMAL runs: no two runs of one (key, iy) overlap or abut."""
    from govgis_nov2023_slim_spatial_server_spark.operators.dissolve import (
        boolean_runs,
    )

    rng = random.Random(20260815)
    layers = {}
    rows = []
    for key in range(40):
        w_, h_ = rng.randint(1, 8), rng.randint(1, 8)
        a = {
            (x, y)
            for x in range(w_)
            for y in range(h_)
            if rng.random() < rng.choice([0.3, 0.6])
        }
        b = {
            (x, y)
            for x in range(w_ + 2)
            for y in range(h_ + 2)
            if rng.random() < rng.choice([0.3, 0.6])
        }
        layers[key] = (a, b)
        rows += [(key, y, x0, x1, 1) for y, x0, x1 in (_cells_to_runs(a) if a else [])]
        # duplicate some B runs verbatim: counters must tolerate overlap
        br = _cells_to_runs(b) if b else []
        rows += [(key, y, x0, x1, 0) for y, x0, x1 in br + br[:2]]
    tagged = spark.createDataFrame(
        rows, "c_nationkey long, iy long, x0 long, x1 long, layer int"
    )
    ops = {
        "intersection": lambda a, b: a & b,
        "difference": lambda a, b: a - b,
        "union": lambda a, b: a | b,
        "symdiff": lambda a, b: a ^ b,
    }
    for mode, op in ops.items():
        got, lines = {}, {}
        for r in boolean_runs(tagged, mode).collect():
            got.setdefault(r["c_nationkey"], set()).update(
                (x, r["iy"]) for x in range(r["x0"], r["x1"] + 1)
            )
            lines.setdefault((r["c_nationkey"], r["iy"]), []).append(
                (r["x0"], r["x1"])
            )
        for key, (a, b) in layers.items():
            assert got.get(key, set()) == op(a, b), (mode, key)
        for line, runs in lines.items():
            runs.sort()
            for (_, x1), (x0, _) in zip(runs, runs[1:]):
                assert x0 > x1 + 1, (mode, line, runs)


def test_difference_punches_holes_and_reexposes_islands(spark):
    """A = 7×7 block, B = 5×5 donut strictly inside (its own 3×3 hole):
    A \\ B must emit TWO polygons — the outer frame WITH a new hole, and
    the re-exposed 3×3 island inside it — and intersection must equal B
    itself. The ring-derived cell counts prove the topology."""
    from govgis_nov2023_slim_spatial_server_spark.operators.dissolve import (
        boolean_runs,
        union_rings_by_key,
    )

    a_cells = {(x, y) for x in range(7) for y in range(7)}
    b_cells = {
        (x, y)
        for x in range(1, 6)
        for y in range(1, 6)
        if not (2 <= x <= 4 and 2 <= y <= 4)
    }
    tagged = _tagged_df(spark, a_cells, b_cells)

    diff = union_rings_by_key(boolean_runs(tagged, "difference"), cell=1.0).collect()
    assert len(diff) == 1
    r = diff[0]
    assert r["n_cells"] == len(a_cells - b_cells) == 33
    assert r["n_polys"] == 2  # frame + re-exposed island
    assert r["n_rings"] == 3  # frame shell, frame hole, island shell

    inter = union_rings_by_key(boolean_runs(tagged, "intersection"), cell=1.0).collect()
    r = inter[0]
    assert r["n_cells"] == len(b_cells) == 16
    assert r["n_polys"] == 1 and r["n_rings"] == 2  # the donut back

    # B ⊂ A, so the symmetric difference equals A \ B exactly
    sym = union_rings_by_key(boolean_runs(tagged, "symdiff"), cell=1.0).collect()
    r = sym[0]
    assert r["n_cells"] == 33 and r["n_polys"] == 2 and r["n_rings"] == 3


def test_snap_lattice_disjointness_enumerated():
    """The snap entry's exactness argument, enumerated over the whole
    modulus space in INTEGER 1/64° units: every jittered edge coordinate
    is an odd multiple of 1/64 while every cell-center coordinate is
    (4m+2)/64 — disjoint with margin ≥ 1/64 — and no vertex lies on the
    1/16° cell lattice (the inputs are genuinely non-lattice)."""
    for km40 in range(40):
        for km8 in range(8):
            for km7 in range(7):
                x0 = -125 * 64 + km40 * 96 + (1 + km8 * 2)  # 1/64 units
                w = 64 + km7 * 16
                for frac in (0, w // 4, w // 2, (3 * w) // 4, w):
                    edge = x0 + frac
                    assert edge % 2 == 1  # odd/64 — off the center lattice
                    assert edge % 4 != 0  # off the 1/16° cell lattice
    for km16 in range(16):
        for km7 in range(7):
            for km5 in range(5):
                y0 = 24 * 64 + km16 * 80 + (3 + km7 * 2)
                h = 64 + km5 * 16
                for frac in (0, h // 4, h // 2, (3 * h) // 4, h):
                    assert (y0 + frac) % 2 == 1
    # centers: (4m + 2)/64 — even, so |center − edge| ≥ 1/64 always
    assert all((4 * m + 2) % 2 == 0 for m in range(-3000, 3000))


def test_union_snap_rings_matches_brute_force(spark):
    """sf0.001 integration: the entry's per-nation n_cells/extent equal a
    pure-Python re-rasterization of the jittered store (exact fractions
    via integer 1/64 arithmetic — an independent implementation of the
    membership test, not the engine's ray cast)."""
    sf = "/root/testdata/sf0.001"
    cust = pd.read_parquet(f"{sf}/customer.parquet")[
        ["c_custkey", "c_nationkey"]
    ]
    occ = {}
    for k, nk in zip(cust["c_custkey"], cust["c_nationkey"]):
        k = int(k)
        # all in 1/64° integer units
        x0 = -8000 + (k % 40) * 96 + (1 + (k % 8) * 2)
        y0 = 1536 + (k % 16) * 80 + (3 + (k % 7) * 2)
        w = 64 + (k % 7) * 16
        h = 64 + (k % 5) * 16
        ix0 = (k % 40) * 24 - 2000
        iy0 = 384 + (k % 16) * 20
        for i in range(20 + (k % 7) * 4):
            cx = (ix0 + i) * 4 + 2
            if not (x0 < cx < x0 + w):
                continue
            for j in range(20 + (k % 5) * 4):
                cy = (iy0 + j) * 4 + 2
                if not (y0 < cy < y0 + h):
                    continue
                if k % 2 == 1:
                    inside = not (cx * 2 > 2 * x0 + w and cy * 2 > 2 * y0 + h)
                else:
                    inside = not (
                        4 * cx > 4 * x0 + w
                        and 4 * cx < 4 * x0 + 3 * w
                        and 4 * cy > 4 * y0 + h
                        and 4 * cy < 4 * y0 + 3 * h
                    )
                if inside:
                    occ.setdefault(int(nk), set()).add((ix0 + i, iy0 + j))
    nation = pd.read_parquet(f"{sf}/nation.parquet")
    names = dict(zip(nation["n_nationkey"], nation["n_name"]))
    got = {
        r["n_name"]: r
        for r in QUERIES["spatial_union_snap_rings"](spark, sf).collect()
    }
    assert set(got) == {names[nk] for nk in occ}
    for nk, cells in occ.items():
        r = got[names[nk]]
        assert r["n_cells"] == len(cells), nk
        assert r["x_min"] == min(c[0] for c in cells) * 0.0625
        assert r["x_max"] == (max(c[0] for c in cells) + 1) * 0.0625
        assert r["y_min"] == min(c[1] for c in cells) * 0.0625
        assert r["y_max"] == (max(c[1] for c in cells) + 1) * 0.0625


def test_substring_trim_retention_interval_union(spark, tmp_path):
    """Trim policy hand-checked: a passage shared with TWO earlier docs
    is trimmed ONCE (distinct spans collapse), overlapping spans from
    different sources union instead of summing, two disjoint copies both
    trim, and a 3-token overlap stays below the 4-gram floor."""
    P = "p q r s t u v w x"  # 9 tokens
    docs = [
        (1, f"a b c {P} d e"),  # first occurrence: never trimmed
        (2, f"zz yy {P} kk"),  # vs 1 → 9
        (3, "t u v w x g1 g2 g3"),  # vs 1,2: 5-token suffix → 5
        (6, f"mm {P} nn"),  # vs 1 AND 2: identical span → 9, not 18
        (7, f"h1 {P} h2"),  # vs 1/2 (9) ∪ vs 3 (last 5) → 9, not 14
        (8, f"w1 w2 {P} w3 w4 {P}"),  # two disjoint copies → 18
        (9, "p q r f1 f2 f3 f4 f5 f6"),  # 3-token overlap → no row
    ]
    _write_docs(docs, tmp_path)
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["retained_tokens"])
        for r in QUERIES["substring_trim_retention"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        2: (12, 9, 3),
        3: (8, 5, 3),
        6: (11, 9, 2),
        7: (11, 9, 2),
        8: (22, 18, 4),
    }


def test_intersection_rings_store_nonvacuous(spark):
    """sf0.001: the odd/even layers genuinely overlap (intersection and
    difference both non-empty for some nation), and per nation
    |A∩B| + |A\\B| == |A| — the sweep partitions layer A exactly."""
    sf = "/root/testdata/sf0.001"
    inter = {
        r["n_name"]: r["n_cells"]
        for r in QUERIES["spatial_intersection_rings"](spark, sf).collect()
    }
    diff = {
        r["n_name"]: r["n_cells"]
        for r in QUERIES["spatial_difference_rings"](spark, sf).collect()
    }
    assert inter and sum(inter.values()) > 0
    # |A| and |B| per nation from the tagged runs of the lattice store
    from govgis_nov2023_slim_spatial_server_spark.catalog.geo_analytics import (
        _occupied_runs,
    )
    from govgis_nov2023_slim_spatial_server_spark.operators.dissolve import (
        merge_runs,
    )
    from govgis_nov2023_slim_spatial_server_spark.schemas import load_table

    tagged = _occupied_runs(spark, sf, tagged=True)

    def layer_sizes(layer):
        return {
            r["c_nationkey"]: r["n"]
            for r in merge_runs(
                tagged.where(F.col("layer") == layer).drop("layer")
            )
            .groupBy("c_nationkey")
            .agg(F.sum(F.col("x1") - F.col("x0") + 1).alias("n"))
            .collect()
        }

    a_sizes = layer_sizes(1)
    names = {
        r["n_nationkey"]: r["n_name"]
        for r in load_table(spark, sf, "nation").collect()
    }
    for nk, total in a_sizes.items():
        nm = names[nk]
        assert inter.get(nm, 0) + diff.get(nm, 0) == total, nm
    # |A△B| = |A| + |B| − 2|A∩B| per nation
    sym = {
        r["n_name"]: r["n_cells"]
        for r in QUERIES["spatial_symdiff_rings"](spark, sf).collect()
    }
    b_sizes = layer_sizes(0)
    for nk, a_n in a_sizes.items():
        nm = names[nk]
        assert (
            sym.get(nm, 0)
            == a_n + b_sizes.get(nk, 0) - 2 * inter.get(nm, 0)
        ), nm


# --------------------------------------------------------------------------
# r12 late entries: exact two-pass quantiles, int64 PageRank, HLL merge
# --------------------------------------------------------------------------


def _write_orders(rows, tmp_path):
    """rows: list of (status, cents)."""
    base = pd.Timestamp("2024-01-01")
    pd.DataFrame(
        {
            "o_orderkey": range(1, len(rows) + 1),
            "o_custkey": [1] * len(rows),
            "o_orderstatus": [s for s, _ in rows],
            "o_totalprice": [c / 100.0 for _, c in rows],
            "o_orderdate": [base] * len(rows),
            "o_orderpriority": ["1-URGENT"] * len(rows),
        }
    ).to_parquet(tmp_path / "orders.parquet", index=False)


def test_exact_quantiles_known_answer_multi_bin(spark, tmp_path):
    """Targets land in DIFFERENT histogram bins (values straddle the 2^21-
    cent bin width): p50 in bin 0, p90 in bin 2 — the bin walk, the in-bin
    offset, and the widened pushdown ranges all exercised. Rank spec:
    r50 = (n+1) DIV 2 (lower median), r90 = ceil(0.9 n)."""
    cents = [1000, 2000, 3000, 4000, 5000, 6000, 7000, 8000, 5_500_000]
    _write_orders([("O", c) for c in cents], tmp_path)
    got = {
        r["o_orderstatus"]: r
        for r in QUERIES["exact_quantiles_histogram"](
            spark, str(tmp_path)
        ).collect()
    }
    n = len(cents)  # 9 → r50 = 5 → 5000; r90 = ceil(8.1) = 9 → 5_500_000
    assert got["O"]["n_orders"] == n
    assert got["O"]["p50_cents"] == 5000
    assert got["O"]["p90_cents"] == 5_500_000
    assert got["O"]["p50"] == 50.0
    assert got["O"]["p90"] == 55000.0


def test_exact_quantiles_duplicate_values_single_row_group(spark, tmp_path):
    """All-duplicate cents (row_number tie order must not matter) and a
    single-row group (both ranks = 1)."""
    rows = [("O", 777)] * 6 + [("F", 123456)]
    _write_orders(rows, tmp_path)
    got = {
        r["o_orderstatus"]: r
        for r in QUERIES["exact_quantiles_histogram"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["O"]["p50_cents"] == 777 and got["O"]["p90_cents"] == 777
    assert got["F"]["p50_cents"] == 123456 and got["F"]["n_orders"] == 1


def _write_lineitem_parts(pairs, tmp_path):
    """pairs: list of (orderkey, partkey) line items."""
    base = pd.Timestamp("1995-01-01")
    pd.DataFrame(
        {
            "l_orderkey": [o for o, _ in pairs],
            "l_partkey": [p for _, p in pairs],
            "l_suppkey": [1] * len(pairs),
            "l_linenumber": range(1, len(pairs) + 1),
            "l_quantity": [1.0] * len(pairs),
            "l_extendedprice": [100.0] * len(pairs),
            "l_discount": [0.0] * len(pairs),
            "l_tax": [0.0] * len(pairs),
            "l_returnflag": ["N"] * len(pairs),
            "l_linestatus": ["O"] * len(pairs),
            "l_shipdate": [base] * len(pairs),
        }
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)


def _pagerank_reference(edges, iters=3):
    """Exact-int reference of the entry's recurrence."""
    from collections import defaultdict

    deg = defaultdict(int)
    for s, d in edges:
        deg[s] += 1
    r = {v: 1_000_000_000_000 for v in deg}
    for _ in range(iters):
        inflow = defaultdict(int)
        for s, d in edges:
            inflow[d] += r[s] // deg[s]
        r = {v: 150_000_000_000 + (85 * x) // 100 for v, x in inflow.items()}
    return r


def test_pagerank_power_iters_path_graph(spark, tmp_path):
    """Path graph 1–2–3 (orders {1,2} and {2,3}): the middle node must
    out-rank the ends, and every rank must equal the exact-int reference."""
    _write_lineitem_parts([(10, 1), (10, 2), (11, 2), (11, 3)], tmp_path)
    got = {
        r["l_partkey"]: r["pagerank_e12"]
        for r in QUERIES["pagerank_power_iters"](spark, str(tmp_path)).collect()
    }
    edges = [(1, 2), (2, 1), (2, 3), (3, 2)]
    want = _pagerank_reference(edges)
    assert got == want
    assert got[2] > got[1] == got[3]


def test_pagerank_power_iters_random_vs_reference(spark, tmp_path):
    """120 random line items (free partkeys — the shared lineitem harness
    derives partkey from orderkey, which makes every co-order graph empty,
    so this entry gets its own random generator): top-20 of the exact-int
    reference, with the (rank desc, partkey) tie-break."""
    rng = random.Random(20260815)
    pairs = sorted(
        {(rng.randint(1, 25), rng.randint(1, 18)) for _ in range(120)}
    )
    _write_lineitem_parts(pairs, tmp_path)
    by_order = {}
    for o, p in pairs:
        by_order.setdefault(o, set()).add(p)
    und = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                und.add((a, b))
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    want = _pagerank_reference(edges)
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["l_partkey"], r["pagerank_e12"])
        for r in QUERIES["pagerank_power_iters"](spark, str(tmp_path)).collect()
    ]
    assert got == top


def _write_events_users(rows, tmp_path):
    """rows: list of (user_id, event_type)."""
    base = pd.Timestamp("2024-03-01")
    pd.DataFrame(
        {
            "event_id": range(1, len(rows) + 1),
            "ts": [base] * len(rows),
            "user_id": [u for u, _ in rows],
            "event_type": [t for _, t in rows],
            "value": [1.0] * len(rows),
            "props": ['{"k": 1}'] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet", index=False)


def test_hll_merge_union_equals_direct_union_sketch(spark, tmp_path):
    """The entry's register-MAX union sketch must equal sketching the
    CONCATENATED streams directly (MAX associativity — the mergeability
    contract), est_overlap must be exactly est_a + est_b − est_union, and
    a disjoint pair must report exact_overlap 0 via the left join."""
    from govgis_nov2023_slim_spatial_server_spark.operators.sketches import (
        hll_registers_by_group,
        hll_registers_to_estimate,
    )

    rng = random.Random(7)
    rows = [(rng.randint(0, 400), "view") for _ in range(300)]
    rows += [(rng.randint(300, 700), "click") for _ in range(300)]
    rows += [(rng.randint(1000, 1100), "error") for _ in range(50)]
    _write_events_users(rows, tmp_path)
    out = {
        (r["type_a"], r["type_b"]): r
        for r in QUERIES["sketch_hll_merge_union"](spark, str(tmp_path)).collect()
    }
    ev = spark.read.parquet(str(tmp_path / "events.parquet"))
    for (ta, tb), row in out.items():
        both = ev.where(F.col("event_type").isin([ta, tb])).withColumn(
            "g", F.lit(1)
        )
        direct = hll_registers_to_estimate(
            hll_registers_by_group(both, "g", "user_id"), ["g"]
        ).collect()[0]
        assert row["union_register_sum"] == direct["register_sum"]
        assert row["est_union"] == direct["hll_estimate"]
    # exact overlaps: view∩click users ∈ [300, 400]; anything × error = 0
    assert out[("click", "view")]["exact_overlap"] > 0
    assert out[("error", "view")]["exact_overlap"] == 0
    assert out[("click", "error")]["exact_overlap"] == 0


# ---------------------------------------------------------------------------
# spatial_nn_join_ring — nearest-neighbor spatial join
# ---------------------------------------------------------------------------


def _write_nn_db(custkeys, partkeys, tmp_path):
    pd.DataFrame(
        {
            "c_custkey": pd.array(custkeys, dtype="int64"),
            "c_name": [f"Customer#{k}" for k in custkeys],
            "c_nationkey": pd.array([0] * len(custkeys), dtype="int32"),
            "c_acctbal": [0.0] * len(custkeys),
            "c_mktsegment": ["BUILDING"] * len(custkeys),
        }
    ).to_parquet(tmp_path / "customer.parquet", index=False)
    pd.DataFrame(
        {
            "p_partkey": pd.array(partkeys, dtype="int64"),
            "p_name": [f"part {k}" for k in partkeys],
            "p_brand": ["Brand#1"] * len(partkeys),
            "p_type": ["ECONOMY ANODIZED STEEL"] * len(partkeys),
            "p_size": pd.array([1] * len(partkeys), dtype="int32"),
            "p_retailprice": [100.0] * len(partkeys),
        }
    ).to_parquet(tmp_path / "part.parquet", index=False)


def _nn_brute_force(custkeys, partkeys):
    facs = [
        (k, (k % 50) * 8 + (k % 7), (k % 20) * 8 + (k % 5))
        for k in custkeys
        if k % 10 == 1
    ]
    out = {}
    for pk in partkeys:
        px, py = (pk * 13) % 401, (pk * 29) % 161
        best = min(
            ((px - fx) ** 2 + (py - fy) ** 2, ck) for ck, fx, fy in facs
        )
        out[pk] = (best[1], best[0])
    return out


def test_nn_join_ring_matches_brute_force_random_keysets(spark, tmp_path):
    """Entry output == exact per-point argmin (with custkey tie-break) on
    random key SETS — keys drive the lattice positions, so random subsets
    sweep ring-kept, residual-fallback, and equal-dsq tie branches. The
    dense draw guarantees ring hits; the sparse draw forces fallbacks."""
    rng = random.Random(12)
    for trial in range(6):
        if trial % 2 == 0:  # dense facilities: ring branch active
            custkeys = sorted(rng.sample(range(1, 1000), 300) + [1])
        else:  # sparse: residual branch dominant
            custkeys = sorted(rng.sample(range(1, 1000), 12) + [1])
        partkeys = sorted(rng.sample(range(1, 3000), 40))
        d = tmp_path / f"t{trial}"
        d.mkdir()
        _write_nn_db(custkeys, partkeys, d)
        got = {
            r["p_partkey"]: (r["nearest_custkey"], r["dsq"])
            for r in QUERIES["spatial_nn_join_ring"](spark, str(d)).collect()
        }
        want = _nn_brute_force(custkeys, partkeys)
        assert got == want
        # every point appears exactly once (kept ∪ residual is a partition)
        assert len(got) == len(partkeys)


def test_nn_join_ring_guarantee_constant():
    """The keep threshold is exactly the ring guarantee: a facility outside
    the 3x3 neighborhood of 32-unit cells differs by >= 2 cells in some
    axis, so its coordinate gap is >= 2*32 - 31 = 33 and dsq >= 33^2 =
    1089; the entry keeps ring winners iff dsq <= 1088."""
    assert 2 * 32 - 31 == 33 and 33 * 33 == 1089


def test_nn_join_ring_plan_shapes(spark):
    """r16 kernel shape: the whole per-point argmin (ring tier +
    full-scan fallback) is ONE MapInPandas over the spread point scan —
    no join of any kind, no aggregation exchange, no checkpoint."""
    plan = QUERIES["spatial_nn_join_ring"](
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    for node in (
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
        "CartesianProduct",
        "Window",
        "HashAggregate",
    ):
        assert node not in plan, node


def test_intersection_snap_rings_nonvacuous_and_bounded(spark):
    """sf0.001: the jittered parity layers genuinely overlap (non-empty
    intersection for some nation), and per nation the snap intersection
    is a SUBSET of the snap union: n_cells(A∩B) <= n_cells(A∪B) with the
    intersection's extent contained in the union's."""
    sf = "/root/testdata/sf0.001"
    inter = {
        r["n_name"]: r
        for r in QUERIES["spatial_intersection_snap_rings"](spark, sf).collect()
    }
    union = {
        r["n_name"]: r
        for r in QUERIES["spatial_union_snap_rings"](spark, sf).collect()
    }
    assert inter and sum(r["n_cells"] for r in inter.values()) > 0
    for name, ri in inter.items():
        ru = union[name]
        assert 0 < ri["n_cells"] <= ru["n_cells"]
        assert ru["x_min"] <= ri["x_min"] and ri["x_max"] <= ru["x_max"]
        assert ru["y_min"] <= ri["y_min"] and ri["y_max"] <= ru["y_max"]
