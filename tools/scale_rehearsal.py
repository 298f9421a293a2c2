"""Scale rehearsal: measure how the headline scale mechanisms grow from a
1x to an Nx corpus (default 20x documents/embeddings, 8x orders/lineitem),
and print per-query scaling exponents alpha = log(t_N/t_1) / log(N).

The Nx corpora are DETERMINISTIC replications of /root/testdata/sf0.1 with
per-replica perturbation chosen so workload characteristics stay realistic:

- documents: every word gets a per-replica suffix, so replicas are NOT
  near-duplicates of each other — the near-dup rate per document stays the
  corpus's own rate instead of exploding 20x (a naive copy would make every
  doc a member of a 20-way duplicate cluster and quadratically inflate the
  LSH candidate set, measuring a different problem).
- embeddings: one dimension's sign flips per replica (norm-preserving), so
  cross-replica vectors are distinct but the distance distribution is
  unchanged.
- orders/lineitem: key-shifted copies (o_orderkey + r*1e8), preserving the
  1:n join fan-out exactly.

Both scales are written through the same writer to /tmp so file layout,
compression, and row-group structure are identical — the measured delta is
the algorithm, not the storage format. Usage:

    python tools/scale_rehearsal.py [--docs-reps 20] [--fact-reps 8]

Writes nothing into the repo; paste the table into SCALING.md.
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, wall  # noqa: E402

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/govgis-scale-rehearsal"

# query name -> (tables it needs, replica kind)
QUERIES_UNDER_TEST = {
    "minhash_lsh_neardup": (["documents"], "docs"),
    "ngram_jaccard_topk": (["documents"], "docs"),
    "knn_topk": (["embeddings"], "docs"),
    "similarity_join_topk": (["embeddings"], "docs"),
    "bucketed_join_revenue": (["orders", "lineitem"], "fact"),
    "q1_pricing_summary": (["lineitem"], "fact"),
    # r5 second wave: the new pair-join mechanisms (quadratic-risk) plus a
    # window-only control
    "ngram_containment_topk": (["documents"], "docs"),
    "graph_triangle_count": (["documents"], "docs"),
    "cooccurrence_pmi_topk": (["documents"], "docs"),
    "attribution_last_touch": (["events"], "fact"),
    # r5 tail — eval/audit wave: AUC's aggregated-domain window, the basket
    # self-join, the probe-bounded recall/NDCG audits, the skew monitor
    "roc_auc_purchase_vs_view": (["events"], "fact"),
    "assoc_rules_event_pairs": (["events"], "fact"),
    "user_behavior_entropy": (["events"], "fact"),
    "ann_recall_at_10": (["embeddings"], "docs"),
    "retrieval_ndcg_labels": (["embeddings"], "docs"),
    "lsh_bucket_balance": (["embeddings"], "docs"),
    # r6: the df-capped containment variant (compare α against the
    # uncapped row, especially under --hot-shingle), the SCD-2 window
    # chain, and the PCA power-iteration matvec
    "ngram_containment_capped": (["documents"], "docs"),
    "scd2_intervals_user_type": (["events"], "fact"),
    "pca_power_iteration": (["embeddings"], "docs"),
    # r7: the two bench headliners without a SCALING row — the bounded
    # driver-state iterative loop and the shifted-slice bigram LM
    "kmeans_two_iterations": (["embeddings"], "docs"),
    "bigram_lm_cross_entropy": (["documents"], "docs"),
    # r8: the geo-analytics layer (customer-keyed polygon store). The
    # store build (shape-WKB UDF + localCheckpoint) runs once per corpus
    # and min-of-repeats excludes it — matching production's ingest-once /
    # query-many split; what's measured is the per-query kernel (parse +
    # shoelace ArrowEval, tile codegen + agg, broadcast haversine scan).
    "spatial_area_centroid": (["customer"], "docs"),
    "spatial_tile_quadkey": (["customer"], "docs"),
    "spatial_dwithin_haversine": (["customer"], "docs"),
    # r8: the MERGE INTO shape — one full-outer SMJ on the key; both the
    # snapshot and batch slices grow with the orders replication
    "cdc_upsert_snapshot": (["orders"], "fact"),
    # r8: REAL streaming execution under replication — availableNow drain
    # of the stream-static enrich (dim broadcast per micro-batch); wall
    # includes the streaming engine's batch planning overhead
    "stream_static_enrich": (["events", "nation"], "fact"),
    # r9: the skyline two-phase sweep (key-shifted replicas duplicate
    # every point, so the frontier itself grows N× — the duplicate-heavy
    # stress for the local prune), the single-exchange interval-union /
    # LOCF windows, the PQ encode+ADC scan (32 HOF folds per row), and
    # the streaming foreachBatch CDC apply (wall includes the 3 staging
    # writes + 3 merge batches each repeat — the whole job, honestly)
    "pareto_frontier_parts": (["part"], "docs"),
    "interval_union_seconds": (["events"], "fact"),
    "time_weighted_avg_value": (["events"], "fact"),
    "pq_adc_topk": (["embeddings"], "docs"),
    "stream_cdc_apply": (["events"], "fact"),
    # r9: union-area raster decomposition — key-shifted customers keep
    # the lattice, so density (and genuine cross-replica overlap, since
    # x0/y0 modulos recur every 80 keys) grows N×
    "spatial_union_area": (["customer", "nation"], "docs"),
    # r11: dissolved ring reconstruction — same raster front as
    # union_area, then ONE dissolve-key Exchange + per-nation python ring
    # chaining whose state is boundary-proportional (denser key-shifted
    # stores merge more, so runs grow SUB-linearly vs cells)
    "spatial_union_rings": (["customer", "nation"], "docs"),
    # r11: substring chains — per-replica word suffixes keep cross-replica
    # grams distinct, so candidate pairs grow ~N× (within-replica only);
    # under --hot-shingle the unsuffixed preamble's grams exceed the df
    # cap at N× and are dropped before the self-join (the cap's regime)
    "substring_dup_chains": (["documents"], "docs"),
    # r11: prefix-filter Jaccard — the rarest-shingle prefix join's
    # fan-out should stay ~N× (within-replica candidates only; the
    # suffixing keeps replicas shingle-disjoint)
    "prefix_filter_jaccard_pairs": (["documents"], "docs"),
    # r12: the boolean sweep (one tagged rasterize + two-counter window
    # before the dissolve — events ∝ runs, so the sweep itself should
    # track the union_rings raster front) and the grid-snapped union
    # (INLINE jittered store build each call — unlike union_rings the
    # wall includes WKB encode, the honest per-call cost of uncached
    # general-polygon input)
    "spatial_intersection_rings": (["customer", "nation"], "docs"),
    "spatial_union_snap_rings": (["customer", "nation"], "docs"),
    # r12: the trim action — detection is the dup-chains join (α 0.75
    # r11); the added span DISTINCT + doc-partitioned interval-union
    # window should not change the exponent (spans ≪ candidate rows)
    "substring_trim_retention": (["documents"], "docs"),
    # r12 second wave: two-pass exact quantiles (pass 1 map-combined
    # histogram, pass 2 bin-pruned re-scan — both passes scan-bound, so
    # α should approach the scan's), the int64 PageRank (edge build is
    # the bounded per-order self-join; 3 broadcast-join iterations), and
    # the HLL pair merge (one map-combined register agg + sketch-sized
    # tail — the α of the AGGREGATE, everything else corpus-independent)
    "exact_quantiles_histogram": (["orders"], "fact"),
    "pagerank_power_iters": (["lineitem"], "fact"),
    "sketch_hll_merge_union": (["events"], "fact"),
    # r12: sketch-bounded streaming distinct — REAL availableNow drain;
    # the stateful MAX's state stays 64 rows/window at any replication,
    # so the wall should track the stream scan, not the distinct count
    "stream_hll_distinct_windows": (["events"], "fact"),
    # r12 third wave: the boolean half of the snap seam — should track
    # the snap-union front (inline jittered store build included) plus
    # the tagged sweep's run-proportional events
    "spatial_intersection_snap_rings": (["customer", "nation"], "docs"),
    # r12 third wave: the NN spatial join — key-shifted replicas grow
    # BOTH sides (20× points, 20× facilities); denser facilities mean
    # more ring candidates per point but also a higher kept fraction
    # (fewer residual fallbacks), so the candidate join should stay
    # ~N× while the broadcast-argmin residual SHRINKS
    "spatial_nn_join_ring": (["part", "customer"], "docs"),
    # r13: the k=5 NN join — same replica regime as the k=1 entry; the
    # bounded k-list aggregate replaces min(struct), so the exponent
    # should match while the constant carries the 5× ring-table rows
    "spatial_knn_join_ring": (["part", "customer"], "docs"),
    # r13: exact convex clipping — key-shifted customers land on FRESH
    # lattice positions (1e6 mod 101/89/97/103 ≠ 0), so density per cell
    # grows N× and candidate pairs grow ~N² in the fixed rehearsal
    # extent: the hot-cell-style OUTPUT-driven regime (genuine overlaps
    # grow too); at production the extent grows with geography instead
    "spatial_clip_convex_pairs": (["customer"], "docs"),
    # r13: weighted two-pass quantiles — both passes scan-bound like the
    # unweighted sibling (α ≈ scan's)
    "weighted_median_histogram": (["lineitem"], "fact"),
    # r13: FULL outer stream-stream join — REAL availableNow drain;
    # state watermark-bounded, wall should track the staging writes +
    # two-batch drain like the left-outer sibling
    "stream_full_outer_join": (["events"], "fact"),
    # r13: nucleus vocabulary — suffixed replicas grow the VOCABULARY
    # ~N× (per-replica suffixes make tokens distinct), so the global
    # rank window's input grows N× while the corpus count stays
    # map-combined
    "nucleus_vocab_coverage": (["documents"], "docs"),
    # r13: snapshot diff — one full-outer SMJ, both sides N×
    "snapshot_diff_keys": (["orders"], "fact"),
    # r13: nearest as-of — one union-sort shuffle on user_id (user count
    # grows N×, per-user chains preserved)
    "asof_join_nearest": (["events"], "fact"),
    # r14: NON-convex clipping — key-shifted customers land on fresh
    # lattice positions (1e6 mod 211/179/193/199 ≠ 0), so density per
    # cell grows N× and positive pairs ~N² in the fixed rehearsal extent
    # — the convex entry's output-driven regime, plus the per-subject
    # trapezoid decomposition (store-sized, should stay ~N×)
    "spatial_clip_concave_pairs": (["customer"], "docs"),
    # r15: holed clipping — 1e6 mod 641/677/653/691 ∈ {40, 71, 257, 123}
    # ≠ 0, so key-shifted replicas land on fresh positions: the siblings'
    # output-driven ~N² regime, plus BOTH stores holed-decomposed
    # (store-sized, should stay ~N×)
    "spatial_clip_holed_pairs": (["customer"], "docs"),
    # r15: geometry output — same candidate regime as the convex entry;
    # the ring assembly is per-POSITIVE-pair Python, so wall should
    # track output (~N² positives) with a small per-pair constant
    "spatial_clip_convex_rings": (["customer"], "docs"),
    # r15: BPE encode — suffixed replicas grow the VOCABULARY ~N× while
    # corpus tokens grow N×; the merge chain runs per vocabulary entry,
    # so wall should track the distinct-word aggregate (scan-bound)
    "bpe_encode_merges": (["documents"], "docs"),
    # r15 wave 2: the boundary closure — subject-level candidates (no
    # piece explode), vectorized interval batch + per-POSITIVE-pair
    # chaining python; the siblings' output-driven regime
    "spatial_clip_holed_boundary": (["customer"], "docs"),
    # r15 wave 3: BFS levels — edges grow ~N× (co-order pairs are
    # within-order, orders replicate); the per-level frontier joins are
    # edge-scan-bound, so α should track the edge build + checkpoint
    "graph_bfs_levels": (["lineitem"], "fact"),
    # r15 wave 3: winnowing — pure map work, α should approach the scan
    # (per-doc HOF chains; suffixed replicas change keys, not shapes)
    "winnowing_fingerprints": (["documents"], "docs"),
    # r15 wave 3: convex hull — key-shifted replicas land on fresh
    # lattice positions, so per-nation point counts grow N× while the
    # HULL grows ~log-ish: the local pre-reduce should absorb the
    # growth and the final per-group stage stay hull-sized (the
    # textbook sublinear regime)
    "spatial_convex_hull_edges": (["customer"], "docs"),
}


def _replicate(
    spark, table: str, out_dir: str, reps: int, hot_shingle: bool = False
) -> None:
    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.schemas import load_table

    df = load_table(spark, BASE, table)
    if table == "nation":  # static dim: copy through unreplicated
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))
        return
    parts = []
    for r in range(reps):
        p = df
        if table == "documents":
            if r > 0:
                p = p.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda w: F.concat(w, F.lit(f"_{r}")),
                        ),
                        " ",
                    ),
                )
            p = p.withColumn("doc_id", F.col("doc_id") + F.lit(r * 1_000_000))
            if hot_shingle:
                # inject a shared (UNsuffixed) preamble into 5% of docs in
                # every replica: its shingles' document frequency grows N×
                # with the corpus — the stop-shingle regime the df cap
                # exists for. Applied identically at 1× and N×, so α still
                # compares like with like.
                p = p.withColumn(
                    "text",
                    F.when(
                        F.col("doc_id") % 20 == 0,
                        F.concat(
                            F.lit("zz hot stop shingle run zz "),
                            F.col("text"),
                        ),
                    ).otherwise(F.col("text")),
                )
        elif table == "embeddings":
            if r > 0:
                flip = r % 64
                p = p.withColumn(
                    "embedding",
                    F.expr(
                        f"transform(embedding, (x, i) -> "
                        f"CASE WHEN i = {flip} THEN -x ELSE x END)"
                    ),
                )
            p = p.withColumn("vec_id", F.col("vec_id") + F.lit(r * 1_000_000))
        elif table == "orders":
            p = p.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(r * 100_000_000)
            )
        elif table == "lineitem":
            p = p.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(r * 100_000_000)
            )
        elif table == "customer":
            # key-shifted copies: every key stays on the geo lattice (the
            # store derives coordinates from key modulos), density per
            # region grows N×
            p = p.withColumn(
                "c_custkey", F.col("c_custkey") + F.lit(r * 1_000_000)
            )
        elif table == "part":
            # pure key shift: replicas carry IDENTICAL (price, size)
            # points, so every frontier point appears N times — the
            # duplicate-survival stress for the skyline sweep
            p = p.withColumn(
                "p_partkey", F.col("p_partkey") + F.lit(r * 1_000_000)
            )
        elif table == "events":
            # shift BOTH ids: each replica is a fresh user population with
            # the same per-user chain structure (window state per user is
            # preserved; user count — the shuffle key cardinality — grows N×)
            p = p.withColumn(
                "event_id", F.col("event_id") + F.lit(r * 100_000_000)
            ).withColumn("user_id", F.col("user_id") + F.lit(r * 1_000_000))
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))


def _rect_store(spark, n: int, id_name: str, seed: int, hot: bool, out: str):
    """Deterministic synthetic rect store with WKB geometry: n rects of
    side 0.3–0.7 at constant density 2 rects per unit² (the store AREA
    grows with n — the 100 TB geography model: more coverage, same local
    density). With ``hot``, 5% of rects are instead dropped into the ONE
    grid cell [0,2)² regardless of n — the urban-skew regime where that
    cell's candidate pairs grow quadratically while the rest stay linear
    (the spatial analog of run 5's hot-shingle corpus)."""
    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        make_box_wkb_udf,
    )

    L = math.sqrt(n / 2.0)

    def u(k):  # deterministic uniform [0,1) per id, decorrelated by k
        return (
            F.pmod(F.hash(F.col(id_name) * 2654435761 + F.lit(seed * 7 + k)), F.lit(1_000_000))
            / 1_000_000.0
        )

    df = spark.range(n).select(F.col("id").alias(id_name))
    x0 = u(1) * F.lit(L)
    y0 = u(2) * F.lit(L)
    if hot:
        in_hot = F.col(id_name) % 20 == 0
        x0 = F.when(in_hot, u(1) * 1.3).otherwise(x0)
        y0 = F.when(in_hot, u(2) * 1.3).otherwise(y0)
    df = df.select(
        id_name,
        x0.alias("xmin"),
        y0.alias("ymin"),
        (x0 + 0.3 + u(3) * 0.4).alias("xmax"),
        (y0 + 0.3 + u(4) * 0.4).alias("ymax"),
    )
    df = df.withColumn(
        "geom_wkb",
        make_box_wkb_udf()(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")
        ),
    )
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def _spatial_mode(spark, repeats: int) -> None:
    """Measure spatial_join_exact's mechanism (blocked bbox join + exact
    polygon refine) at 1x/20x/60x rect stores: candidate-pair counts
    (cell-join pairs = shuffle volume; bbox survivors = refine input) and
    wall time, uniform and hot-cell regimes. VERDICT r6 #5."""
    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        make_polys_intersect_udf,
    )
    from govgis_nov2023_slim_spatial_server_spark.operators.spatial_join import (
        grid_blocked_overlap_join,
    )

    base = 2000
    rows = []
    for hot in (False, True):
        for mult in (1, 20, 60):
            n = base * mult
            l = _rect_store(spark, n, "lid", 11, hot, f"{WORK}/sl_{hot}_{mult}")
            r = _rect_store(spark, n, "rid", 29, hot, f"{WORK}/sr_{hot}_{mult}")
            cand = grid_blocked_overlap_join(l, r, cell=2.0)
            n_bbox, t_blocked = 0, math.inf
            for _ in range(repeats):
                t0 = time.perf_counter()
                n_bbox = cand.count()
                t_blocked = min(t_blocked, time.perf_counter() - t0)
            if hot and mult > 1:
                # run-5 convention: in the skew regime the scale-telling
                # quantity is the candidate count (native, cheap); the
                # refine wall-time at 60x hot is minutes of pure known
                # Python work over the quadratic hot cell
                t_exact, n_exact = math.inf, -1
            else:
                exact = cand.where(
                    make_polys_intersect_udf()(
                        F.col("geom_wkb"), F.col("geom_wkb_r")
                    )
                )
                t_exact, n_exact = math.inf, 0
                for _ in range(repeats):
                    t0 = time.perf_counter()
                    n_exact = exact.count()
                    t_exact = min(t_exact, time.perf_counter() - t0)
            rows.append((hot, mult, n, n_bbox, t_blocked, n_exact, t_exact))
            print(
                f"hot={hot} x{mult}: n={n} bbox_pairs={n_bbox} "
                f"t_blocked={t_blocked:.2f}s exact_pairs={n_exact} "
                f"t_exact={t_exact:.2f}s"
            )
    print("\n| regime | N | rects/side | bbox pairs | growth | t_blocked s | exact pairs | t_exact s |")
    print("|---|---|---|---|---|---|---|---|")
    base_pairs = {}
    for hot, mult, n, n_bbox, t_b, n_ex, t_ex in rows:
        if mult == 1:
            base_pairs[hot] = n_bbox
        g = n_bbox / max(1, base_pairs[hot])
        te = "—" if t_ex == math.inf else f"{t_ex:.2f}"
        ne = "—" if n_ex < 0 else str(n_ex)
        print(
            f"| {'hot-cell' if hot else 'uniform'} | {mult} | {n} | {n_bbox} "
            f"| {g:.1f}x | {t_b:.2f} | {ne} | {te} |"
        )


def _skew_aqe_mode(spark, repeats: int) -> None:
    """Verify the SCALING run-7 mitigation claim EMPIRICALLY: AQE skew-join
    splitting actually fires on the hot-cell spatial regime and actually
    parallelizes the hot cell's join+refine work (VERDICT r7 #3 — the one
    claimed-not-measured scale assertion).

    Setup: hot-cell rect stores at the 20x point (40k rects/side; 5% of
    each side lands in the single grid cell [0,2)^2, so ONE cell key holds
    a ~2000x2000 candidate block -> one skewed shuffle partition that
    serializes ~4.7M candidate pairs AND their exact polygon refine on one
    task while 31 cores idle). Measured: wall time of the full
    join+exact-refine count with spark.sql.adaptive.skewJoin.enabled off
    vs on, plus the executed adaptive plan's AQEShuffleRead annotation
    proving the split happened.

    Threshold note (the honest part): at rehearsal scale the hot partition
    is ~1 MB — far under the production default
    skewedPartitionThresholdInBytes=256m, so with stock thresholds AQE
    correctly declines to split (the partition is not a problem at this
    byte size; it is a problem here only because the refine cost per byte
    is high). Both runs therefore share scaled-down thresholds
    (threshold=128k, factor=2, advisory=64k) and differ ONLY in
    skewJoin.enabled — isolating the split's effect. At 100 TB the same
    hot cell is hundreds of GB and clears the production defaults on its
    own.
    """
    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.functions.spatial import (
        make_polys_intersect_udf,
    )
    from govgis_nov2023_slim_spatial_server_spark.operators.spatial_join import (
        grid_blocked_overlap_join,
    )

    n = 2000 * 20
    l = _rect_store(spark, n, "lid", 11, True, f"{WORK}/skl")
    r = _rect_store(spark, n, "rid", 29, True, f"{WORK}/skr")

    shared = {
        # no side broadcasts at 100 TB; force the shuffled join shape
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # scaled-down skew thresholds (see docstring) — shared by BOTH
        # runs so enabled-vs-disabled is the only difference
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "128k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.shuffle.partitions": "200",
    }
    saved = {k: spark.conf.get(k, None) for k in shared}
    saved["spark.sql.adaptive.skewJoin.enabled"] = spark.conf.get(
        "spark.sql.adaptive.skewJoin.enabled", None
    )
    results = []
    try:
        for k, v in shared.items():
            spark.conf.set(k, v)
        for enabled in ("false", "true"):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", enabled)
            t_best, n_exact, agg = math.inf, 0, None
            for _ in range(repeats):
                # a FRESH DataFrame per repeat: re-collecting the same
                # object reuses the join stage's shuffle files, so every
                # repeat after the first skips the work being measured
                # (observed: 20s first run, 0.04s repeats)
                agg = (
                    grid_blocked_overlap_join(l, r, cell=2.0)
                    .where(
                        make_polys_intersect_udf()(
                            F.col("geom_wkb"), F.col("geom_wkb_r")
                        )
                    )
                    .groupBy()
                    .count()
                )
                t0 = time.perf_counter()
                n_exact = agg.collect()[0][0]
                dt = time.perf_counter() - t0
                print(f"#   skewJoin={enabled} rep: {dt:.2f}s")
                t_best = min(t_best, dt)
            # the executed (final adaptive) plan of the action just run:
            # AQEShuffleRead prints its partition-spec kind — a skew split
            # shows as "skewed" (with coalesced segments alongside)
            plan = agg._jdf.queryExecution().executedPlan().toString()
            skew_reads = sum(
                1
                for line in plan.splitlines()
                if "AQEShuffleRead" in line and "skewed" in line
            )
            results.append((enabled, n_exact, t_best, skew_reads))
            print(
                f"skewJoin={enabled}: exact_pairs={n_exact} "
                f"t_best={t_best:.2f}s skewed_AQEShuffleReads={skew_reads}"
            )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    print("\n| skewJoin | exact pairs | wall s (best) | skewed AQEShuffleReads |")
    print("|---|---|---|---|")
    for enabled, n_exact, t_best, skew_reads in results:
        print(f"| {enabled} | {n_exact} | {t_best:.2f} | {skew_reads} |")
    if len(results) == 2:
        off, on = results
        if off[1] != on[1]:
            print(f"WARNING: result mismatch off={off[1]} on={on[1]}")
        print(f"speedup: {off[2] / on[2]:.2f}x; split fired: {on[3] > 0}")




def _bucketed_nn_mode(spark, repeats: int) -> None:
    """Broadcast vs cell-bucketed ring NN candidate join at a LARGE
    facility vocabulary (VERDICT r13 #4's optional measurement).

    The graded ring entries broadcast a position-dedup'd facility ring
    (<= 700 positions on the store lattice), which is right at any SF of
    the graded corpora. The regime the bucketed operator exists for is a
    large position VOCABULARY: here a synthetic 40000-unit extent
    (1250 x 1250 32-unit cells), ~400k distinct facility positions
    (ring table ~3.6M rows — far past sane broadcast size) and 3M
    points. Both forms read identical parquet and compute the identical
    per-point argmin (checksum-compared); measured per form: join +
    argmin wall, best of `repeats`, plan rebuilt per repeat (the run-9
    shuffle-reuse trap). The bucketed layout's pay-once write cost is
    reported separately — at 100 TB that layout is the table's resident
    format, amortized across every ring join and per-cell aggregate.
    autoBroadcastJoinThreshold=-1 in the bucketed runs so the comparison
    is explicit-broadcast vs co-located SMJ, nothing in between.
    """
    import os as _os

    from pyspark.sql import functions as F

    from govgis_nov2023_slim_spatial_server_spark.operators.spatial_join import (
        cell_bucketed_ring_join,
    )

    E = 40_000
    n_f, n_p = 400_000, 3_000_000
    # PRIME position moduli (39989/39979), not E: modulo E=40000 the
    # (fx, fy) map has period exactly 40000, so 400k ids would collapse
    # to a 40k-position vocabulary and the dedup'd ring table would be
    # 360k rows — not the large-vocabulary regime this mode exists to
    # measure (caught by counting the dedup'd store on the first run)
    fac = (
        spark.range(1, n_f + 1)
        .select(
            F.col("id").alias("c_custkey"),
            ((F.col("id") * 7919) % 39989).alias("fx"),
            ((F.col("id") * 104729) % 39979).alias("fy"),
        )
        .groupBy("fx", "fy")
        .agg(F.min("c_custkey").alias("c_custkey"))
    )
    n_pos = fac.count()
    off = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    fring = (
        fac.withColumn("dxc", off)
        .withColumn("dyc", off)
        .select(
            "c_custkey", "fx", "fy",
            (F.expr("fx DIV 32") + F.col("dxc")).alias("cellx"),
            (F.expr("fy DIV 32") + F.col("dyc")).alias("celly"),
        )
    )
    pts = (
        spark.range(1, n_p + 1)
        .select(
            F.col("id").alias("p_partkey"),
            ((F.col("id") * 13) % E).alias("px"),
            ((F.col("id") * 29) % E).alias("py"),
        )
        .withColumn("cellx", F.expr("px DIV 32"))
        .withColumn("celly", F.expr("py DIV 32"))
    )
    _os.makedirs(WORK, exist_ok=True)
    fring.write.mode("overwrite").parquet(f"{WORK}/bn_fring")
    pts.write.mode("overwrite").parquet(f"{WORK}/bn_pts")

    def _checksum(cand):
        dsq = (
            (F.col("px") - F.col("fx")) * (F.col("px") - F.col("fx"))
            + (F.col("py") - F.col("fy")) * (F.col("py") - F.col("fy"))
        ).alias("dsq")
        best = (
            cand.select(
                "p_partkey",
                F.coalesce(dsq, F.lit(2**62)).alias("dsq"),
                F.coalesce(F.col("c_custkey"), F.lit(-1)).alias("ck"),
            )
            .groupBy("p_partkey")
            .agg(F.min(F.struct("dsq", "ck")).alias("b"))
        )
        sent = F.lit(2**62).cast("long")
        r = best.agg(
            F.count(F.lit(1)).alias("n"),
            # sentinel dsq (no ring candidate) excluded: ~10% of points
            # at this density x 2^62 overflows a plain SUM under ANSI
            F.count(F.when(F.col("b.dsq") < sent, 1)).alias("nm"),
            F.sum(F.when(F.col("b.dsq") < sent, F.col("b.dsq"))).alias("sd"),
            F.sum(F.when(F.col("b.dsq") < sent, F.col("b.ck"))).alias("sk"),
        ).collect()[0]
        return (r["n"], r["nm"], r["sd"], r["sk"])

    results = {}
    # broadcast form: plan rebuilt per repeat
    ts = []
    for _ in range(repeats):
        p_df = spark.read.parquet(f"{WORK}/bn_pts")
        f_df = spark.read.parquet(f"{WORK}/bn_fring")
        t0 = time.time()
        chk = _checksum(p_df.join(F.broadcast(f_df), ["cellx", "celly"], "left"))
        ts.append(time.time() - t0)
    results["broadcast"] = (min(ts), chk)

    # bucketed form: pay-once layout write, then join-only repeats from
    # the saved tables (the resident-layout economics)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t0 = time.time()
        cand = cell_bucketed_ring_join(
            spark,
            spark.read.parquet(f"{WORK}/bn_pts"),
            spark.read.parquet(f"{WORK}/bn_fring"),
            name_prefix="bkt_nnrehe",
            n_buckets=32,
            how="left",
        )
        chk_b = _checksum(cand)
        layout_and_first = time.time() - t0
        pid = _os.getpid()
        bp = spark.table(f"bkt_nnrehe_pts_{pid}")
        bf = spark.table(f"bkt_nnrehe_fr_{pid}")
        ts = []
        for _ in range(repeats):
            bp2 = spark.table(f"bkt_nnrehe_pts_{pid}")
            bf2 = spark.table(f"bkt_nnrehe_fr_{pid}")
            t0 = time.time()
            chk_b = _checksum(
                bp2.hint("merge").join(bf2, ["cellx", "celly"], "left")
            )
            ts.append(time.time() - t0)
        results["bucketed"] = (min(ts), chk_b)
    finally:
        if saved is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    print(
        f"facilities={n_f} distinct_positions={n_pos} "
        f"(ring rows ~{9 * n_pos}) points={n_p} extent={E}"
    )
    print(f"bucketed layout write + first join: {layout_and_first:.2f}s")
    print("| form | join+argmin best s | checksum |")
    print("|---|---|---|")
    for form, (t, chk) in results.items():
        print(f"| {form} | {t:.2f} | {chk} |")
    b, k = results["broadcast"], results["bucketed"]
    print(f"match: {b[1] == k[1]}; bucketed/broadcast wall: {k[0] / b[0]:.2f}x")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs-reps", type=int, default=20)
    ap.add_argument("--fact-reps", type=int, default=8)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query-name substrings; measure only matches",
    )
    ap.add_argument(
        "--hot-shingle",
        action="store_true",
        help="give 5%% of documents a shared preamble whose shingle df "
        "grows Nx — the adversarial regime for uncapped shingle joins",
    )
    ap.add_argument(
        "--spatial",
        action="store_true",
        help="measure the spatial_join_exact mechanism on synthetic rect "
        "stores (uniform + hot-cell regimes) instead of catalog queries",
    )
    ap.add_argument(
        "--skew-aqe",
        action="store_true",
        help="measure AQE skew-join splitting on the hot-cell spatial "
        "regime: wall time + plan proof, skewJoin off vs on (VERDICT r7 #3)",
    )
    ap.add_argument(
        "--bucketed-nn",
        action="store_true",
        help="measure broadcast vs cell-bucketed ring NN join at a large "
        "facility vocabulary (VERDICT r13 #4 optional row)",
    )
    args = ap.parse_args()
    if args.spatial or args.skew_aqe or args.bucketed_nn:
        from govgis_nov2023_slim_spatial_server_spark.session import get_spark

        spark = get_spark(app_name="scale-rehearsal-spatial")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            if args.spatial:
                _spatial_mode(spark, args.repeats)
            if args.skew_aqe:
                _skew_aqe_mode(spark, args.repeats)
            if args.bucketed_nn:
                _bucketed_nn_mode(spark, args.repeats)
        finally:
            shutil.rmtree(WORK, ignore_errors=True)
        return
    if args.only:
        pats = [p.strip() for p in args.only.split(",") if p.strip()]
        global QUERIES_UNDER_TEST
        QUERIES_UNDER_TEST = {
            n: v
            for n, v in QUERIES_UNDER_TEST.items()
            if any(p in n for p in pats)
        }
    if len(QUERIES_UNDER_TEST) > 1:
        # r11 run-13 lesson: three 20x workloads sharing one session
        # inflated spatial_union_area 12->40 s; alpha rows are only
        # comparable when each entry gets its own session
        print(
            "# WARNING: measuring"
            f" {len(QUERIES_UNDER_TEST)} entries in ONE session —"
            " same-session interference inflates walls (SCALING.md run"
            " 13); for recordable alpha rows run each entry alone via"
            " --only <entry>",
            file=sys.stderr,
        )

    from govgis_nov2023_slim_spatial_server_spark.session import get_spark

    spark = get_spark(app_name="scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    needed = {t for tabs, _ in QUERIES_UNDER_TEST.values() for t in tabs}
    tables = [
        t
        for t in [
            "documents",
            "embeddings",
            "orders",
            "lineitem",
            "events",
            "customer",
            "part",
            "nation",
        ]
        if t in needed
    ]
    dirs = {1: os.path.join(WORK, "x1")}
    for t in tables:
        _replicate(spark, t, dirs[1], 1, hot_shingle=args.hot_shingle)
    for t in tables:
        if t == "nation":
            # static dim, copied unreplicated into EVERY corpus dir a
            # consumer might read from (docs- and fact-kind alike)
            for kind, reps in (("docs", args.docs_reps), ("fact", args.fact_reps)):
                d = os.path.join(WORK, f"{kind}_x{reps}")
                dirs[(kind, reps)] = d
                _replicate(spark, t, d, 1)
            continue
        reps = args.docs_reps if t in ("documents", "embeddings", "customer", "part") else args.fact_reps
        key = ("docs", args.docs_reps) if t in ("documents", "embeddings", "customer", "part") else (
            "fact",
            args.fact_reps,
        )
        d = os.path.join(WORK, f"{key[0]}_x{key[1]}")
        dirs[key] = d
        _replicate(spark, t, d, reps, hot_shingle=args.hot_shingle)

    print(f"# corpora under {WORK}")
    results = []
    for name, (tabs, kind) in QUERIES_UNDER_TEST.items():
        reps = args.docs_reps if kind == "docs" else args.fact_reps
        d_big = dirs[(kind, reps)]
        # one untimed run first: x1 would otherwise carry JVM, codegen
        # and schema start-up that xN never pays
        time_query(spark, name, dirs[1])
        t1 = min(wall(time_query(spark, name, dirs[1])) for _ in range(args.repeats))
        tn, rows = math.inf, 0
        for _ in range(args.repeats):
            r = time_query(spark, name, d_big)
            tn, rows = min(tn, wall(r)), r["rows"]
        alpha = math.log(tn / t1) / math.log(reps)
        results.append((name, reps, t1, tn, alpha, rows))
        print(
            f"{name}: x1={t1:.2f}s x{reps}={tn:.2f}s "
            f"alpha={alpha:.2f} rows_at_xN={rows}"
        )

    print("\n| query | N | t(1x) s | t(Nx) s | alpha |")
    print("|---|---|---|---|---|")
    for name, reps, t1, tn, alpha, _ in results:
        print(f"| {name} | {reps} | {t1:.2f} | {tn:.2f} | {alpha:.2f} |")

    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
