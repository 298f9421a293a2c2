"""Plan fingerprints of the bench's HEADLINE entries: per entry, how many
of each costly operator its executed plan holds, built at sf0.001.

A change that adds an exchange, turns a join into a nested loop or a
sort-merge, or adds an Arrow/Python boundary or a checkpoint scan shows up
here as a count that moved. When the change is meant, re-pin the entry's
counts and say why in the commit.
"""

from __future__ import annotations

import pytest

import bench
from govgis_nov2023_slim_spatial_server_spark.catalog import QUERIES

OPERATORS = (
    "Exchange",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "Scan ExistingRDD",
)

# entry -> counts in OPERATORS order, read from
# queryExecution().executedPlan().toString() at local[4], 4 shuffle partitions
FINGERPRINTS = {
    "flagship_hybrid_search": (1, 0, 0, 0, 0, 0, 0),
    "knn_topk": (0, 0, 0, 0, 0, 0, 0),
    "similarity_join_topk": (2, 1, 0, 1, 0, 0, 0),
    "embedding_near_dup": (1, 1, 0, 0, 0, 0, 0),
    "q1_pricing_summary": (2, 0, 0, 0, 0, 0, 0),
    "q3_top_revenue_orders": (3, 0, 0, 0, 0, 0, 0),
    "q5_nation_revenue": (7, 0, 0, 0, 0, 0, 0),
    "window_rank_orders_per_customer": (1, 0, 0, 0, 0, 0, 0),
    "tumbling_window_1h": (2, 0, 0, 0, 0, 0, 0),
    "session_windows_30m": (1, 0, 0, 0, 0, 0, 0),
    "minhash_lsh_neardup": (3, 0, 0, 0, 0, 0, 4),
    "ngram_jaccard_topk": (2, 1, 0, 0, 0, 0, 2),
    "spatial_point_filter": (0, 0, 0, 0, 0, 0, 1),
    "multimodal_byte_stats": (0, 0, 0, 1, 0, 0, 0),
    "q6_revenue_forecast": (1, 0, 0, 0, 0, 0, 0),
    "vector_centroids_by_label": (1, 0, 0, 0, 0, 0, 0),
    "grouping_sets_status_priority": (1, 0, 0, 0, 0, 0, 0),
    "ann_recall_at_10": (10, 1, 0, 2, 0, 0, 0),
    "kmeans_two_iterations": (3, 0, 0, 0, 0, 1, 0),
    "bigram_lm_cross_entropy": (5, 0, 0, 0, 0, 0, 3),
    "ngram_containment_topk": (2, 0, 0, 0, 0, 0, 2),
    "ngram_containment_capped": (10, 0, 0, 0, 0, 0, 8),
    "pq_adc_topk": (1, 0, 0, 0, 0, 1, 0),
    "pareto_frontier_parts": (1, 0, 0, 1, 0, 0, 0),
    "skyline_recursive_parts": (1, 0, 0, 0, 0, 0, 1),
    "spatial_buffer_union_area": (4, 0, 0, 1, 0, 0, 1),
    "spatial_union_rings": (3, 0, 0, 1, 1, 0, 1),
    "substring_dup_chains": (3, 0, 0, 0, 0, 0, 4),
    "spatial_intersection_rings": (3, 0, 0, 1, 1, 0, 1),
    "spatial_union_snap_rings": (4, 0, 0, 1, 1, 1, 0),
    "spatial_nn_join_ring": (1, 0, 0, 1, 0, 0, 0),
    "spatial_knn_join_ring": (1, 0, 0, 1, 0, 0, 0),
    "spatial_clip_convex_pairs": (3, 0, 0, 1, 0, 0, 0),
    "spatial_clip_concave_pairs": (4, 0, 0, 2, 0, 0, 0),
    "spatial_clip_general_pairs": (4, 0, 0, 3, 0, 0, 0),
    "spatial_clip_holed_pairs": (4, 0, 0, 3, 0, 0, 0),
    "spatial_clip_convex_rings": (3, 0, 0, 1, 0, 0, 0),
    "bpe_encode_merges": (5, 0, 0, 0, 0, 0, 0),
    "spatial_clip_holed_boundary": (3, 0, 0, 1, 0, 0, 0),
    "graph_bfs_levels": (9, 0, 0, 0, 0, 0, 0),
    "winnowing_fingerprints": (2, 0, 0, 0, 0, 0, 0),
    "spatial_convex_hull_edges": (3, 0, 0, 1, 1, 0, 0),
}


def fingerprint(df) -> tuple[int, ...]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return tuple(plan.count(op) for op in OPERATORS)


def test_every_headline_entry_is_pinned():
    assert list(FINGERPRINTS) == bench.HEADLINE


@pytest.mark.parametrize("name", bench.HEADLINE)
def test_plan_fingerprint(spark, sf_dir, name):
    got = dict(zip(OPERATORS, fingerprint(QUERIES[name](spark, sf_dir))))
    assert got == dict(zip(OPERATORS, FINGERPRINTS[name]))
