"""Documented input bounds that fail loudly or normalize, each tripped here."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.catalog.spatial_mm import (
    RING_TABLE_MAX_KEYS,
    _ring_bottomk_map,
)
from govgis_nov2023_slim_spatial_server_spark.catalog.vector_text import (
    _keep_best_per_component,
)


@pytest.mark.parametrize("key", [0, -3])
def test_ring_bottomk_rejects_non_positive_custkey(key):
    with pytest.raises(AssertionError, match=">= 1"):
        _ring_bottomk_map([(0, 0, [5]), (10, 10, [key])], k=1)


def test_ring_bottomk_rejects_custkey_past_the_encoding():
    with pytest.raises(AssertionError, match="outgrew"):
        _ring_bottomk_map([(0, 0, [1 << 44])], k=1)


def test_ring_bottomk_accepts_the_valid_key_range():
    _ring_bottomk_map([(0, 0, [1]), (3, 4, [(1 << 44) - 1])], k=1)


def test_ring_bottomk_rejects_a_facility_table_past_the_ceiling():
    """The driver-collected table ships with every task: its key count is
    bounded, counting every key of a multi-key position."""
    at_limit = [(i % 401, i % 161, [i + 1]) for i in range(RING_TABLE_MAX_KEYS)]
    _ring_bottomk_map(at_limit, k=1)
    with pytest.raises(AssertionError, match="exceeds RING_TABLE_MAX_KEYS"):
        _ring_bottomk_map([*at_limit[:-1], (0, 0, [RING_TABLE_MAX_KEYS, 1 << 40])], k=5)


def test_keep_best_treats_nan_quality_like_null(spark):
    nan, inf = float("nan"), float("inf")
    rows = [
        # NaN vs NULL: both rank last, so the lowest doc_id wins with a
        # NULL kept quality (a raw NaN would lose to the NULL doc)
        (1, 10, nan),
        (2, 10, None),
        # NaN vs a real quality: the real one wins
        (3, 20, nan),
        (4, 20, 0.5),
        # quality ties break to the lowest doc_id; +inf beats NaN
        (5, 30, 0.25),
        (6, 30, 0.25),
        (7, 40, nan),
        (8, 40, inf),
    ]
    m = spark.createDataFrame(rows, "doc_id long, component long, __q double")
    got = {
        r.component: (r.kept_doc_id, r.kept_quality, r.n_members)
        for r in _keep_best_per_component(m).collect()
    }
    assert got == {
        10: (1, None, 2),
        20: (4, 0.5, 2),
        30: (5, 0.25, 2),
        40: (8, inf, 2),
    }
    # the window form it replaced, over the same NaN-to-NULL quality
    q = F.nanvl(F.col("__q"), F.lit(None).cast("double"))
    w = Window.partitionBy("component").orderBy(q.desc_nulls_last(), "doc_id")
    want = {
        r.component: r.doc_id
        for r in m.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    assert {c: v[0] for c, v in got.items()} == want
