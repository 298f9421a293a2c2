import datetime

import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.operators.multimodal import (
    decode_image,
    extract_byte_stats,
    with_binary_payload,
)
from govgis_nov2023_slim_spatial_server_spark.operators.topk import top_k
from govgis_nov2023_slim_spatial_server_spark.operators.windows import (
    session_window_agg,
    sessionize,
    sliding_window_agg,
    tumbling_window_agg,
)


def test_top_k_offset(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(20)], "id: long, grp: long")
    order = [F.col("grp").asc(), F.col("id").asc()]
    full = [(r["grp"], r["id"]) for r in df.orderBy(*order).collect()]
    paged = top_k(df, order, k=5, skip=3)
    got = [(r["grp"], r["id"]) for r in paged.collect()]
    assert got == full[3:8]
    # one TakeOrderedAndProject carries the offset: no row_number Window
    plan = paged._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=8, offset=3" in plan, plan
    assert "Window" not in plan and "Exchange" not in plan, plan
    got0 = [(r["grp"], r["id"]) for r in top_k(df, order, k=5).collect()]
    assert got0 == full[:5]


def _ts(h, m=0, s=0):
    return datetime.datetime(2024, 1, 1, h, m, s)


@pytest.fixture(scope="module")
def events_df(spark):
    rows = [
        (1, _ts(0, 5), 10, "a", 1.0),
        (2, _ts(0, 20), 10, "a", 2.0),
        (3, _ts(1, 10), 10, "b", 3.0),  # >30min gap → new session
        (4, _ts(0, 45), 20, "a", 4.0),
        (5, _ts(2, 0), 20, "a", 5.0),
    ]
    return spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, user_id: long, event_type: string, value: double"
    )


def test_tumbling_window(spark, events_df):
    out = tumbling_window_agg(events_df, "1 hour")
    got = {r["window_start"].hour: r["n_events"] for r in out.collect()}
    assert got == {0: 3, 1: 1, 2: 1}


def test_sliding_window(spark, events_df):
    out = sliding_window_agg(events_df, "1 hour", "30 minutes")
    # event at 0:05 belongs to windows starting 23:30 (prev day) and 0:00
    n = {(r["window_start"].day, r["window_start"].hour, r["window_start"].minute): r["n_events"] for r in out.collect()}
    assert n[(1, 0, 0)] == 3  # 0:05, 0:20, 0:45
    assert n[(1, 0, 30)] == 2  # 0:45, 1:10
    assert sum(n.values()) == 10  # every event in exactly 2 windows


def test_sessionize(spark, events_df):
    out = sessionize(events_df, gap_minutes=30)
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got[1] == 1 and got[2] == 1 and got[3] == 2  # 50-min gap splits
    assert got[4] == 1 and got[5] == 2


def test_session_agg(spark, events_df):
    out = session_window_agg(events_df, gap_minutes=30)
    rows = {(r["user_id"], r["session_id"]): r["n_events"] for r in out.collect()}
    assert rows == {(10, 1): 2, (10, 2): 1, (20, 1): 1, (20, 2): 1}


def test_multimodal_byte_stats(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "hello")], "doc_id: long, text: string")
    out = extract_byte_stats(with_binary_payload(df)).collect()
    got = {r["doc_id"]: r for r in out}
    assert got[1]["n_bytes"] == 3 and got[1]["first_byte"] == ord("a")
    assert got[2]["n_bytes"] == 5 and got[2]["width"] == 5 and got[2]["height"] == 35


def test_decode_image_is_stubbed(spark):
    df = spark.createDataFrame([(1, b"notanimage")], "id: long, payload: binary")
    with pytest.raises(NotImplementedError):
        decode_image(df)


def test_multimodal_resize(spark):
    from govgis_nov2023_slim_spatial_server_spark.operators.multimodal import (
        resize_thumbnails,
    )

    df = spark.createDataFrame(
        [(1, 640, 480), (2, 32, 16), (3, 0, 0)], "doc_id: long, width: long, height: long"
    )
    got = {r["doc_id"]: r for r in resize_thumbnails(df, max_side=64).collect()}
    assert (got[1]["thumb_w"], got[1]["thumb_h"]) == (64, 48)  # aspect kept
    assert (got[2]["thumb_w"], got[2]["thumb_h"]) == (32, 16)  # no upscale
    assert got[3]["thumb_w"] >= 1  # degenerate clamps


def test_multimodal_frame_sampling(spark):
    from govgis_nov2023_slim_spatial_server_spark.operators.multimodal import (
        sample_frames,
        with_binary_payload,
    )

    df = spark.createDataFrame([(1, "x" * 250), (2, "y" * 10)], "doc_id: long, text: string")
    out = sample_frames(with_binary_payload(df), every_n_bytes=100, max_frames=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_offset"])
    assert by_doc[1] == [0, 100, 200]
    assert by_doc[2] == [0]


def test_embedding_neardup_with_lsh_blocking(spark):
    """Composition: sign-LSH bucket as the block_col — blocked near-dup
    must find every pair the exact path finds within a bucket, at a
    fraction of the pair comparisons."""
    import numpy as np
    from pyspark.sql import functions as F
    from govgis_nov2023_slim_spatial_server_spark.operators.dedup import (
        embedding_near_duplicates,
    )

    rng = np.random.RandomState(5)
    base = rng.randn(20, 16)
    rows = []
    for i in range(20):
        rows.append((2 * i, (base[i] / np.linalg.norm(base[i])).tolist()))
        near = base[i] + rng.randn(16) * 0.02
        rows.append((2 * i + 1, (near / np.linalg.norm(near)).tolist()))
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    # block by the sign of the first random projection (1-plane LSH)
    plane = rng.randn(16)
    proj = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.array(*[F.lit(float(x)) for x in plane]),
            lambda a, b: a.cast("double") * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    blocked_df = df.withColumn("blk", (proj >= 0).cast("int"))

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(df, threshold=0.99).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(blocked_df, threshold=0.99, block_col="blk").collect()
    }
    assert blocked <= exact
    # near-identical pairs project to the same sign almost surely
    assert len(blocked) >= len(exact) - 1


def test_embedding_neardup_blocked_plan_is_equijoin(spark):
    """block_col must plan as an equi-join on the block key (hash or
    sort-merge), never a nested-loop cross product — the 100 TB contract."""
    import numpy as np
    from govgis_nov2023_slim_spatial_server_spark.operators.dedup import (
        embedding_near_duplicates,
    )

    rng = np.random.RandomState(7)
    rows = [
        (i, rng.randn(8).tolist(), int(i % 3)) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>, blk: int")
    out = embedding_near_duplicates(df, threshold=0.5, block_col="blk")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert ("HashJoin" in plan) or ("SortMergeJoin" in plan)


def test_lloyd_iterate_converges_on_separated_blobs(spark):
    """N-iteration Lloyd (operators/kmeans.lloyd_iterate): on two
    well-separated blobs with adversarial seeds (both starting inside one
    blob), the loop must converge to the blob means and stay there —
    iterating further changes nothing once assignments are stable. Also
    pins the driver-loop design: every iteration is an independent job
    over the base frame, so the assignment plan after many iterations
    scans the source exactly once (lineage does not grow)."""
    from govgis_nov2023_slim_spatial_server_spark.operators.kmeans import (
        assign_nearest,
        lloyd_iterate,
    )

    rows = []
    for i in range(40):  # blob A around (0, 0), blob B around (10, 10)
        rows.append((i, [0.0 + (i % 5) * 0.25, 0.0 + (i % 4) * 0.25]))
        rows.append((100 + i, [10.0 + (i % 5) * 0.25, 10.0 + (i % 4) * 0.25]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    seeds = [(1, [0.0, 0.0]), (2, [1.0, 1.0])]  # both inside blob A
    c3 = lloyd_iterate(df, seeds, n_iter=3)
    c6 = lloyd_iterate(df, seeds, n_iter=6)
    assert c3 == c6  # converged: further iterations are fixed points
    (c_a, c_b) = (c3[0][1], c3[1][1])
    # one centroid per blob, at the (quantized) blob mean
    assert abs(c_a[0] - 0.5) < 0.01 and abs(c_a[1] - 0.375) < 0.01
    assert abs(c_b[0] - 10.5) < 0.01 and abs(c_b[1] - 10.375) < 0.01

    # every point assigned to its own blob's centroid
    a = assign_nearest(df, c3)
    wrong = a.where(
        ((F.col("vec_id") < 100) & (F.col("cid") != c3[0][0]))
        | ((F.col("vec_id") >= 100) & (F.col("cid") != c3[1][0]))
    ).count()
    assert wrong == 0

    # lineage independence: the final assignment plan scans the source once
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") == 1

    # n_iter=0 is the identity on the seeds
    assert lloyd_iterate(df, seeds, n_iter=0) == sorted(seeds)


def test_assign_nearest_single_centroid(spark):
    """k=1 is the trivial assignment (F.least needs >=2 args — the k=1
    path projects the lone candidate struct directly); k=0 raises."""
    import pytest

    from govgis_nov2023_slim_spatial_server_spark.operators.kmeans import (
        assign_nearest,
        lloyd_iterate,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    out = assign_nearest(df, [(7, [0.0, 0.0])]).orderBy("vec_id").collect()
    assert [r["cid"] for r in out] == [7, 7]
    assert out[0]["dist"] == 0.0 and out[1]["dist"] == 5.0

    # the full Lloyd loop also works at k=1 (centroid -> global mean)
    (cid, vec) = lloyd_iterate(df, [(7, [9.0, 9.0])], n_iter=1)[0]
    assert cid == 7 and abs(vec[0] - 1.5) < 0.001 and abs(vec[1] - 2.0) < 0.001

    with pytest.raises(ValueError):
        assign_nearest(df, [])


def test_materialized_store_cache_bounds_and_session_eviction(spark):
    """catalog/_store_cache.MaterializedStoreCache: LRU-bounded (property
    harnesses iterating many sf_dirs must not accumulate checkpoint blocks
    for the session lifetime) and rebuild-on-miss; a finalized session's
    entries are evicted so a recycled id() can never alias a live entry."""
    from govgis_nov2023_slim_spatial_server_spark.catalog._store_cache import (
        MaterializedStoreCache,
    )

    cache = MaterializedStoreCache(maxsize=2)
    builds = []

    def make(tag):
        def _build():
            builds.append(tag)
            return spark.range(1).withColumn("tag", F.lit(tag))

        return _build

    a = cache.get_or_build(spark, "dir_a", make("a"))
    assert cache.get_or_build(spark, "dir_a", make("a")) is a  # hit
    cache.get_or_build(spark, "dir_b", make("b"))
    cache.get_or_build(spark, "dir_c", make("c"))  # evicts dir_a (LRU)
    assert len(cache) == 2
    assert builds == ["a", "b", "c"]
    cache.get_or_build(spark, "dir_a", make("a"))  # rebuilt after eviction
    assert builds == ["a", "b", "c", "a"]

    # session-finalizer eviction: simulate the session being GC'd
    cache._evict_session(id(spark))
    assert len(cache) == 0

    # eager checkpoint release: evicting a localCheckpointed store must
    # drop its persisted blocks NOW (df.rdd.unpersist was a silent no-op
    # — it unpersists a derived RDD, not the checkpointed one; r10 ADVICE)
    def n_persistent():
        return int(spark.sparkContext._jsc.getPersistentRDDs().size())

    cache2 = MaterializedStoreCache(maxsize=1)
    base = n_persistent()
    cache2.get_or_build(
        spark, "ck_a", lambda: spark.range(50).localCheckpoint(eager=True)
    )
    assert n_persistent() == base + 1
    cache2.get_or_build(  # evicts ck_a; its blocks must free eagerly
        spark, "ck_b", lambda: spark.range(50).localCheckpoint(eager=True)
    )
    assert n_persistent() == base + 1
