"""Dump formatted physical plans of the headline queries to EXPLAIN.md —
the evidence artifact for plan-quality review (pushdown, pruning, join
strategies, codegen spans)."""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

NOTES = {
    "flagship_hybrid_search": "documents scan prunes to (doc_id, lang); lang filter pushed; broadcast join; TakeOrderedAndProject top-k.",
    "knn_topk": "single column-pruned scan + codegen distance + per-partition top-k heap (no global sort, no shuffle).",
    "similarity_join_topk": "probes broadcast; distance map-side; one windowed shuffle on probe_id for per-probe top-k.",
    "q3_top_revenue_orders": "segment filter pushed; broadcast joins; TakeOrderedAndProject.",
    "q5_nation_revenue": "star join: every dim broadcast, zero sort-merge joins.",
    "tumbling_window_1h": "window bucketing is map-side projection; one hash-agg shuffle.",
    "spatial_point_filter": "native bbox comparisons ahead of the native exact ray cast over geom_rings in one filter — filter-and-refine with no Python node.",
    "repetition_filter": "zero-shuffle: all Gopher ratios are array expressions in one project over the scan (no Exchange).",
    "decontaminate_benchmark": "benchmark shingle set broadcast (BroadcastExchange → BroadcastHashJoin); corpus side never shuffles before the final agg.",
    "chunk_dedup_summary": "keep-first window partitions by xxhash64(chunk_text) — the Exchange carries an 8-byte key, not passage text.",
    "knn_int8_rerank": "quantize + dequantized distance stay in one codegen project; candidate stage is TakeOrderedAndProject (no global sort).",
    "pack_sequences_512": "single Exchange on the shard key; cumulative sum runs per shard — no global window.",
    "bm25_keyword_search": "term-filtered scan feeds map-combining tf agg; idf + corpus stats broadcast (no SortMergeJoin anywhere); TakeOrderedAndProject top-k.",
    "inverted_index_postings": "distinct (doc, term) pairs then ONE hash-agg Exchange on term — the index shard key.",
    "doc_length_outliers": "fence scalars broadcast back onto the length scan; no second shuffle of documents.",
    "funnel_view_click_purchase": "all step joins broadcast at this SF (shuffle on the single user_id key at scale); zero SortMergeJoins.",
    "bigram_top_counts": "bigram formation is a map-only zip of two shifted slices (no self-join); one combinable hash-agg; TakeOrderedAndProject top-k.",
    "zipf_slope_unigrams": "top-100 head via TakeOrderedAndProject (per-partition heaps) — the row_number Window runs over 100 rows, never the full vocabulary.",
    "kmeans_assign_step": "NO join, NO per-vector window: argmin is a per-row LEAST over broadcast centroid literals; the only Exchange is the k-row per-cluster agg.",
    "mad_totalprice_by_status": "group medians broadcast back (BroadcastHashJoin); two shuffles total, both on the group key.",
    "user_retention_cohorts": "cohort side (1 row/user) broadcast onto the distinct-activity side; every shuffle keyed on user_id or the tiny output key.",
    "quality_curriculum_buckets": "global NTILE is the test-scale form (documented approx-quantile fence swap at 100 TB); agg output is 4 rows.",
    "knn_lsh_oracle": "bucket bits are codegen folds over plane literals; bucket IN-list prunes before any ranking; TakeOrderedAndProject top-k.",
    "bucketed_join_revenue": "both scans show 'Bucketed: true' and SortMergeJoin runs with NO Exchange on either side — co-location paid at write time.",
    "weighted_sample_by_quality": "membership is a pure scan-side filter (hash bucket vs quality cut) — map-only, no Exchange anywhere.",
    "spatial_knn_rect_centroids": "probes broadcast (BroadcastNestedLoopJoin over 5 rows); WindowGroupLimit prunes to rank<=3 per partition before the probe_id Exchange.",
    "null_safe_join_counts": "both sides reduce to 7-key count tables BEFORE the null-safe join — the pair explosion never materializes.",
    "attribution_last_touch": "union trick: NO join node anywhere; one Exchange on user_id feeds the last-ignoreNulls window, then a purchase filter.",
    "ewma_value_by_user": "one Exchange on user_id; the bounded 8-row frame fold is a codegen-side aggregate over the collected frame list.",
    "cooccurrence_pmi_topk": "pair formation is two LEADs over ONE doc-partitioned window (no position self-join); unigram marginals + scalars broadcast onto pair counts.",
    "phrase_merge_apply": "winning pair is a 1-row BroadcastExchange; the corpus rewrite is a map-only project over the documents scan.",
    "pca_power_iteration": "no per-vector shuffle: dot fold + posexplode feed a 64-group map-combined HashAggregate; normalizer is a 1-row broadcast.",
    "ngram_containment_topk": "inverted-index formulation: shingle explode + SortMergeJoin on the 8-byte shingle-hash key (r16 word_shingle_hashes: token-hash mixing, no per-shingle string build; no CartesianProduct); sizes ride the explode so no recovery join.",
    "matryoshka_rerank_16": "both funnel stages are TakeOrderedAndProject (per-partition heaps); the 16-dim coarse distance prunes before any full-dim arithmetic on non-candidates.",
    "hard_negative_mining": "anchors broadcast; the annulus band Filter runs BEFORE the per-anchor rank window, so ranked state is already pruned.",
    "parallel_moments_merge": "two stacked HashAggregates, both map-combined — the shard level materializes the partial-merge algebra the engine uses internally.",
    "kmeans_two_iterations": "both assignment passes are bit-exact Arrow argmin kernels (r12 — ArrowEvalPython replaced the interpreted LEAST-over-literal HOF scan, ~1.7x on the entry; identity pinned in tests/test_vector.py); still no join/window — n_iter1 rejoins as a literal map lookup (r7), the only Exchanges are k-row aggregates and the bounded M-step collect.",
    "graph_triangle_count": "edge build = hashed-shingle SortMergeJoin; wedge closure = two equi-joins on node keys — no cross product at any stage.",
    "udaf_cents_total_by_type": "ArrowAggregatePython: raw rows shuffle to the Python worker (NO map-side combine) — the plan-visible cost that keeps hot-path aggregation built-in.",
    "user_event_sequences": "one Exchange on user_id; ordered string_agg is array_sort over collected structs inside the same aggregate.",
    "recursive_cte_chain_totals": "UnionLoop iterates the frontier join; every event enters at most one frontier so rows stay linear in depth.",
    "markov_transition_matrix": "one LEAD window on the user_id Exchange; the |types|² count table gets row totals broadcast back — no second scan of events.",
    "target_encoding_smoothed": "exact-cents sums in one map-combined HashAggregate; the prior is a 1-row BroadcastExchange onto the category table.",
    "psi_split_drift": "split+bucket assignment is scan-side projection; two tiny aggregates meet in a broadcast join — the raw table shuffles once.",
    "incremental_dedup_merge": "corpus side reduces to a fingerprint column before the LeftAnti join — batch admission never rescans corpus text.",
    "spatial_grid_density": "cell assignment is a map-side floor over the store's bbox struct; attributes broadcast; one cell-key HashAggregate.",
    "q1_pricing_summary": "shipdate filter pushed to scan; exact-integer cents/percent units inside the two-level HashAggregate (decimal-tie-free).",
    "try_funcs_dirty_data": "try_divide/try_cast stay inside WholeStageCodegen — NULL-on-error costs nothing over the plain operators.",
    "roc_auc_purchase_vs_view": "Mann-Whitney over the AGGREGATED score domain: HashAggregate to per-distinct-cents counts first, so the cumulative Window sorts the bounded value domain, never N rows.",
    "assoc_rules_event_pairs": "basket self-join co-partitioned on user_id (one Exchange, reused both sides); type totals and the user count are 5-row/1-row BroadcastExchanges.",
    "activity_islands_daily": "single user_id Exchange serves both the row_number Window and the island groupBy — the day-number-minus-rank trick needs no self-join.",
    "trimmed_stats_by_type": "rank trim is a PARTITIONED window (per-type sort, horizontal scale); kept rows feed one map-combined cents aggregate.",
    "ann_recall_at_10": "ground truth computed ONLY for the probe sample (probes broadcast, corpus never shuffled); LSH side joins on bucket; the recall join carries ≤ probes·k rows.",
    "ivf_recall_at_10": "per-probe searches filter on the broadcast-argmin cluster id (directory pruning at scale via write_ivf); exact side broadcasts probes; recall join ≤ probes·k rows.",
    "retrieval_ndcg_labels": "probe sample broadcast; local_topk_prune cuts the window input to ≤ P·k rows; label marginals a 10-row broadcast — eval cost is probe-bounded.",
    "ngram_containment_capped": "stop-shingle df cap BEFORE the self-join via broadcast ANTI-join against the small hot set (df > cap) — one map-combined df aggregate, prune stays map-side; every shingle's pair fan-out bounded by cap² (SCALING.md run 5: linear candidate growth where uncapped is →quadratic).",
    "spatial_join_exact": "filter-and-refine: grid-cell blocked bbox EQUI-join (no nested loop), then the polygon×polygon ArrowEval refine runs only on candidate pairs.",
    "spatial_join_hot_cell": "skewed SELF-join via the same blocked equi-join: one cell key carries the quadratic hot block. At sf0.01 the exploded side fits broadcast so Catalyst correctly picks BroadcastHashJoin (no shuffle at all); above the broadcast threshold the same plan becomes the sort-merge shuffle whose hot partition AQE skew-split parallelizes — refine rides in the join stage either way (SCALING.md run 9: split fires, 5.3× wall).",
    "spatial_area_centroid": "map-only: scan → 2-column project → ONE ArrowEval (parse+shoelace) → project; no Exchange anywhere — at 100 TB this is a pure scan-side pass.",
    "spatial_tile_quadkey": "tile math (incl. the mercator tan/ln) and the quadkey bit-interleave are all codegen projections; the only Exchange is the map-combined HashAggregate on the tile key — the tile id IS the partition key.",
    "spatial_dwithin_haversine": "3-row probe side broadcast (IdentityBroadcastMode BroadcastNestedLoopJoin = a map-side pass over the store); haversine is one codegen project; partial count/min run before the 3-group Exchange.",
    "spatial_dissolve_extent": "Catalyst prunes the UDF struct to .area alone (_extract_area) — cx/cy never materialize; nation broadcast with PushedFilters; extent min/max + area sum in one map-combined HashAggregate.",
    "spatial_points_in_polygons": "points enter the grid join as zero-area rects: EQUI-join on (cell_x, cell_y) (broadcast at this SF, shuffled hash above threshold — never a nested loop); the vectorized even-odd refine (one parse per polygon per batch) rides after the join; orders scan prunes to o_orderkey with the %8 filter pushed.",
    "cdc_upsert_snapshot": "the MERGE INTO shape: ONE full-outer SortMergeJoin on the key, both scans pruned to 2 columns with the slice predicates pushed; action tag + value coalesce are map-side projections; 3-group map-combined scorecard agg.",
    "pareto_frontier_parts": "distributed skyline with NO join node and ONE Exchange total: phase-1 is exchange-free (local Sort + MapInPandas carry-state sweep — r10; the r9 cut's spark_partition_id Window shuffled the full input), phase-2 Window over the tiny survivor union behind the single Exchange; dominance witness is a running struct max.",
    "skyline_recursive_parts": "recursive skyline on a band-clustered anti-chain corpus: repartitionByRange(3, band) constructs the worst-case layout, then local prune / re-hash rounds (driver-bounded, localCheckpoint between) shrink survivors before the single-partition global Window; the AdaptiveSparkPlan shows only the final round — the mitigation loop is driver-side by design.",
    "spatial_buffer_union_area": "square-buffer (L∞ Minkowski) as run-length morphology: the rasterizer emits scan-line RUNS (rows ∝ boundary, not area); x-dilation is arithmetic on run endpoints, each union is one (nation, iy)-keyed window + agg interval merge, y-dilation explodes merged SEGMENTS ±4 (9× segments, never cells); no DISTINCT anywhere — the r10 rewrite of two measured-and-rejected cell-row forms (16-24 s → 2 s at sf0.1).",
    "stream_dedup_reemit_islands": "dropDuplicatesWithinWatermark across 5 staged micro-batches (islands + watermark riders); the batch plan shown is the post-drain per-key emission count — the streaming state machine lives in the executed availableNow query.",
    "interval_union_seconds": "ONE Exchange on user_id serves both windows (running-max island break + island numbering) and both aggregates — linear, skew-bounded by the busiest user.",
    "time_weighted_avg_value": "LEAD + the final agg share the single user_id Exchange; weighted mean is exact int64 (v_e4 × dt) with one final division.",
    "spatial_linestring_length": "map-only: supplier scan → encode UDF → decode ArrowEval (parse + sequential sqrt fold) — no Exchange anywhere.",
    "pq_adc_topk": "PQ: encode is 4 LEAST-over-8-struct argmins of sequential folds bound via one _let (no re-inlining); ADC is 4 literal-array lookups; NO join; TakeOrderedAndProject top-10 on the single embeddings scan.",
    "rrf_fusion_topk": "both retrievers end in TakeOrderedAndProject top-64 (per-partition heaps — corpus never globally sorts); rank windows run over ≤64 rows each; the fusion full-outer join carries ≤128 rows, corpus-size-independent.",
    "sketch_hll_distinct_users": "MAX-idempotent registers: one map-combined HashAggregate to 64 MAX registers per group (the only Exchange carries 64 longs per group, not rows); the estimate is an exact integer fold (Σ 2^(49−ρ) < 2^56) plus one final division.",
    "length_bucket_padding": "bucket caps are an integer comparison CASE chain inside the scan project (no libm at power-of-two boundaries); ONE map-combined HashAggregate on a 6-value key — a single pass at any scale.",
    "epoch_shuffle_shards": "rank = injective LCG over doc_id as a codegen projection (assert_true id-bound guard rides inside the rank expression — one job, no driver-side pre-scan); ONE map-combined 64-group aggregate; the production form writes shard-partitioned files sorted by the same rank column.",
    "spatial_simplify_collinear": "map-only: scan → WKB parse + collinear-vertex elimination in ONE ArrowEval → project; no Exchange anywhere — vertex reduction is embarrassingly parallel.",
    "pps_systematic_sample": "the k=10 pick positions are a broadcast probe (corpus never shuffles for the pick join); the global cumsum window is the documented test-scale form — at 100 TB the offsets come from a P-row partial-sum broadcast (two-phase prefix sum).",
    "spatial_union_rings": "rasterize to boundary-proportional runs (mapInPandas) → ONE Exchange on the dissolve key (FlatMapGroupsInPandas ring reconstruction) → 25-row broadcast nation join; the graded scorecard is derived from the reconstructed rings' integer shoelace.",
    "substring_dup_chains": "positional 4-grams join on the 8-byte token-hash-mixed key (r16 _positional_gram_hashes) after the stop-gram df-cap anti-join (fan-out ≤ cap² per gram); gram checkpoint eager + size-coalesced; diagonal chain windows partition by (pair, diagonal); 50-row TakeOrderedAndProject.",
    "spatial_buffer_rings": "x-dilation on run endpoints (free) → (nation, iy) interval merge → ±4 segment explode → merge again → the dissolve-key ring reconstruction; boundary-proportional bytes at every merge, then one Exchange to the 25 dissolve groups.",
    "quota_stratified_split": "one map-combined 5-group count; everything after (remainder window, target broadcast) is constant-size — the allocation plan is corpus-scale-independent past the first aggregate.",
    "prefix_filter_jaccard_pairs": "prefix shingles are the globally RAREST per doc (df agg + per-doc rank window), so the candidate equi-join's fan-out is self-limiting — the principled form of the df cap; bounded candidates verify via two id joins carrying the 8-byte shingle-HASH arrays (r16 — the string array_intersect was the measured dominant stage).",
    "spatial_intersection_rings": "two parity-filtered rasterize passes → per-layer (nation, iy) merges → the boolean sweep (one event aggregate + one (nation, iy) window — parallelizes over scan lines, never the dissolve key) → merge → ONE dissolve-key Exchange for ring reconstruction.",
    "spatial_difference_rings": "identical stage structure to the intersection (same sweep, cA>0 ∧ cB=0 predicate); difference regions punch NEW holes, so the per-group chaining does strictly more work per run than the union's.",
    "spatial_symdiff_rings": "the fourth sweep predicate (exactly one counter positive) on the same single tagged rasterize; the most fragmented output — every overlap becomes a hole — so it upper-bounds the chaining work of the family.",
    "spatial_union_snap_rings": "jittered store builds inline (width-sized repartition BEFORE the WKB UDF so encode + rasterize parallelize); then the union_rings pipeline unchanged — pad-4 window only adds ray-cast point tests, runs stay boundary-proportional.",
    "substring_trim_retention": "detection shares the dup-chains shape (df-cap anti-join, r16 token-hash-mixed gram key, (pair,diagonal) windows); the action adds one span DISTINCT and one doc_id-partitioned interval-union window; 30-row TakeOrderedAndProject.",
    "exact_quantiles_histogram": "pass 2 only — pass 1's histogram is a separate bounded-collect job: the scan shows PushedFilters on o_totalprice (the widened bin ranges reach row-group pruning), the window runs over bin-sized partitions, the target probe is a BroadcastHashJoin, and n_orders rejoins as a literal map (no join node for it).",
    "pagerank_power_iters": "edges + degrees localCheckpoint once (scan leaves, not a re-run self-join); each of the 3 iterations is one broadcast of the node-sized message table into the edge list + one map-combined dst-sum; 20-row TakeOrderedAndProject with partkey tie-break.",
    "sketch_hll_merge_union": "ONE map-combined register aggregate over the corpus; everything after is sketch-sized (≤ types·64 rows) — the pair fan-out is a deliberate BroadcastNestedLoopJoin of the register table, corpus-independent; the exact-overlap side is a distinct (type,user) self-join with fan-out ≤ types² per user.",
    "stream_hll_distinct_windows": "STATEFUL streaming aggregate with sketch-bounded state: groupBy(win, register).MAX(rho) keeps 64 rows per window whatever the arrival count; complete-mode availableNow drain, then register_sum/estimate derive batch-side from the tiny snapshot (plan shown is the batch tail over the localCheckpointed snapshot).",
    "spatial_intersection_snap_rings": "the snap-union store build (inline jittered WKB, width-sized repartition) rasterized ONCE with the layer tag in the run key; then the lattice intersection's sweep + ring reconstruction unchanged — one event aggregate, one (key, iy) window, ONE dissolve-key Exchange.",
    "spatial_nn_join_ring": "r16: the whole per-point argmin (ring tier + full-scan fallback for points beyond the dsq ≤ 1088 guarantee) is ONE vectorized int64 MapInPandas closing over the driver-collected facility position table (the former broadcast dim) — no join, no aggregation exchange, no checkpoint; the only Exchange is the probe-side spread.",
    "spatial_knn_join_ring": "k=5 form of the ring join, r16: the whole bottom-5 reduction (ring tier + full-scan tier — the former residual crossJoin that 54% of sf0.1 points took) is ONE MapInPandas sharing the k=1 kernel; per-position bottom-5 key arrays bound the closure by 5 × position vocabulary; (dsq, custkey) order = the single integer key dsq·2^44+custkey; no join/window/aggregate anywhere.",
    "spatial_clip_convex_pairs": "grid-blocked bbox equi-join → ONE ArrowEvalPython running the vectorized int64 per-edge Green kernel (asNondeterministic pins single evaluation under filter+project — Catalyst extracted TWO nodes for the deterministic form); TakeOrderedAndProject absent by design (full result graded).",
    "spatial_clip_concave_pairs": "TWO ArrowEvalPython nodes by design: trapezoid decomposition ONCE per subject row (store-sized, nondeterministic-pinned), then the convex kernel per (piece, diamond) candidate after the cell equi-join; per-pair SUM is a map-combined HashAggregate; subj_area_e4 rides the piece rows so the partition grade needs no extra join.",
    "spatial_clip_general_pairs": "THREE ArrowEvalPython nodes by design: one trapezoid decomposition per STORE (each store-sized, nondeterministic-pinned) + the convex kernel per (pieceA, pieceB) candidate after the cell equi-join; both subjects' piece-sum shoelaces ride the piece rows, so the double partition grade adds no join.",
    "weighted_median_histogram": "pass 2 only (pass 1 = the shared _qh_hist_collect bounded-collect job): widened price ranges reach row-group pruning as PushedFilters, the RANGE-framed cumulative-weight window runs over interval-sized partitions, targets probe via BroadcastHashJoin, total_weight rejoins as a literal map.",
    "stream_full_outer_join": "REAL availableNow drain shown post-sink: watermarked stream-stream full-outer interval join, sentinel advancers on BOTH sides removed only after the sink on the coalesced key (NULL-coalesced users kept — real null-side rows, r14); plan tail is the localCheckpointed memory-sink read.",
    "nucleus_vocab_coverage": "map-combined token count absorbs the corpus; the rank/cumsum window sees only the VOCABULARY; the ≥90% cutoff is pure-integer (10·(cum−cnt) < 9·total) inside codegen.",
    "snapshot_diff_keys": "ONE full-outer SortMergeJoin on the key (both branch scans carry pushed key-modulo filters); class CASE + exact-cents coalesce are map-side; 4-group map-combined scorecard agg.",
    "asof_join_nearest": "union-sort trick run bidirectionally: ONE Exchange on user_id, TWO frames over the SAME window sort (last-ignorenulls backward, first-following forward); the nearest pick is a codegen int64 gap compare — no join node anywhere.",
    "spatial_clip_holed_pairs": "holes completion of the clip family: TWO store-sized holed trapezoid decompositions (CW hole edges join the slab span sets — even-odd parity over the combined edge set IS shell-minus-hole), then the r13 convex kernel per (pieceA, pieceB) candidate after the cell equi-join; both NET piece-sum shoelaces ride the piece rows — THREE ArrowEvalPython nodes total, the general entry's plan shape with holed inputs.",
    "spatial_clip_convex_rings": "geometry OUTPUT, snap-free: the same single-ArrowEval plan as spatial_clip_convex_pairs, but the kernel emits the exact boundary pieces; a CCW convex ring's 8-way direction classes are strictly increasing, so the per-pair sort IS the ring (chain closure asserted per positive pair); output explodes to ≤ 8 vertex rows per positive pair — posexplode, no window, no extra Exchange.",
    "spatial_clip_holed_boundary": "the full geometry-output closure: subject-level cell-blocked candidates (NO decomposition explode — candidate rows are pairs, not piece pairs), ten scalar param columns through ONE ArrowEvalPython running the coverage sweep (∂(A∩B) = ∂A∩B ∪ ∂B∩A over signed convex components); directed segment rows out, shoelace area + Umlaufsatz turning ride along so ring topology grades without shipping ring ids.",
    "bpe_encode_merges": "the scale move is visible as ONE Exchange to the DISTINCT-word vocabulary (merge chain runs per vocab entry, never per corpus token); fourteen chained JVM HOF rewrites stay in a single Project (each rank let-bound via hashes._let so CollapseProject cannot re-inline); merge table = plan literals, no Python, map-combined weighted agg after the final explode.",
    "graph_bfs_levels": "the co-order UNDIRECTED pairs materialize ONCE (r16: half the doubled edge table; per-level explode is a free map; size-coalesced to ~64k rows/task) — each level is one BroadcastHashJoin of the node-sized frontier into the pair scan, a map-side left-anti against visited BEFORE the target distinct, and a localCheckpoint keeping the loop's lineage flat; the candidate-min-level fusion was measured slower (dense graph) and rejected.",
    "winnowing_fingerprints": "map-only: token-hash → gram-key → window-selection chain is ONE Project of nested JVM HOFs over the documents scan (toks/hs/gk/sel each let-bound — CollapseProject cannot re-inline the char fold into its gram references); zero Join, zero hash-agg Exchange; the only Exchange is the output ORDER BY's rangepartitioning (plan-pinned in test_r15_wave2).",
    "spatial_convex_hull_edges": "two Python stages by design: a mapInPandas partition-local hull pre-reduce (lossless — non-vertices of a local hull are interior to the group hull) so the groupBy(g) Exchange carries only hull candidates, then one applyInPandas strict monotone chain per group emitting the CCW ring edges; at 100 TB the shuffle is O(groups × hull size), never the point cloud.",
}


def main() -> None:
    from govgis_nov2023_slim_spatial_server_spark.catalog import QUERIES
    from govgis_nov2023_slim_spatial_server_spark.session import get_spark

    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# EXPLAIN — physical plans of the headline queries",
        "",
        f"Generated by `python tools/explain_dump.py` at `{sf_dir}`. What to",
        "look for per plan is noted above each block.",
        "",
    ]
    for name, note in NOTES.items():
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"*{note}*", "", "```", buf.getvalue().strip(), "```", ""]
    with open("EXPLAIN.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAIN.md ({len(NOTES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
