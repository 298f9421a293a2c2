import numpy as np
import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.functions.vector import (
    _as_col,
    cosine_similarity,
    dot,
    euclidean_distance,
    l2_norm,
    l2_normalize,
)
from govgis_nov2023_slim_spatial_server_spark.operators.knn import knn, lsh_bucketed_knn, similarity_join


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(8).astype("float32").tolist()) for i in range(100)]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>"), rows


def test_dot_matches_numpy(spark, vec_df):
    df, rows = vec_df
    q = [1.0, -1.0, 0.5, 0.0, 2.0, -0.5, 1.5, 0.25]
    got = {r["vec_id"]: r["d"] for r in df.select("vec_id", dot("embedding", q).alias("d")).collect()}
    for i, emb in rows[:10]:
        expect = float(np.float64(np.asarray(emb, dtype=np.float64)) @ np.asarray(q))
        assert got[i] == pytest.approx(expect, rel=1e-12)


def test_vector_literal_is_one_literal_of_the_same_doubles(spark, vec_df):
    """A Python query vector becomes ONE array literal holding exactly the
    doubles of the per-element ``lit`` form, and the dot fold over it is
    bit-identical to the fold over that form."""
    import struct

    rng = np.random.RandomState(3)
    specials = [0.0, -0.0, 5e-324, -1.7976931348623157e308, 1e-05, 123456789.125,
                float("inf"), float("-inf"), float("nan")]
    q = [float(x) for x in rng.randn(1024).astype("float32")] + specials
    lit = _as_col(q)
    per_element = F.array(*[F.lit(x) for x in q])
    row = spark.range(1).select(lit.alias("a"), per_element.alias("b")).first()
    assert [struct.pack("<d", x) for x in row["a"]] == [struct.pack("<d", x) for x in row["b"]]
    assert spark.range(1).select(lit).schema[0].dataType.simpleString() == "array<double>"
    plan = spark.range(1).select(lit.alias("a"))._jdf.queryExecution().analyzed().toString()
    assert "array(" not in plan  # a literal, not an array(...) of 1033 children

    df, _ = vec_df
    q8 = q[:8]
    got = df.select("vec_id", dot("embedding", q8).alias("d")).orderBy("vec_id").collect()
    want = df.select(
        "vec_id", dot("embedding", F.array(*[F.lit(x) for x in q8])).alias("d")
    ).orderBy("vec_id").collect()
    assert [struct.pack("<d", r["d"]) for r in got] == [struct.pack("<d", r["d"]) for r in want]


def test_cosine_and_norms(spark, vec_df):
    df, rows = vec_df
    out = df.select(
        "vec_id",
        l2_norm("embedding").alias("n"),
        cosine_similarity("embedding", rows[0][1]).alias("cs"),
        euclidean_distance("embedding", rows[0][1]).alias("ed"),
    ).collect()
    by_id = {r["vec_id"]: r for r in out}
    for i, emb in rows[:10]:
        a = np.asarray(emb, dtype=np.float64)
        b = np.asarray(rows[0][1], dtype=np.float64)
        assert by_id[i]["n"] == pytest.approx(float(np.linalg.norm(a)), rel=1e-9)
        assert by_id[i]["cs"] == pytest.approx(
            float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), rel=1e-9
        )
        assert by_id[i]["ed"] == pytest.approx(float(np.linalg.norm(a - b)), rel=1e-9)


def test_l2_normalize(spark, vec_df):
    df, _ = vec_df
    norms = df.select(l2_norm(l2_normalize("embedding")).alias("n")).collect()
    assert all(abs(r["n"] - 1.0) < 1e-12 for r in norms)


def test_knn_matches_bruteforce(spark, vec_df):
    df, rows = vec_df
    q = list(np.random.RandomState(5).randn(8))
    out = knn(df, q, k=7, emb_col="embedding", id_col="vec_id").collect()
    qa = np.asarray(q)
    dists = []
    for i, emb in rows:
        a = np.asarray(emb, dtype=np.float64)
        dists.append((1 - a @ qa / (np.linalg.norm(a) * np.linalg.norm(qa)), i))
    expect = [i for _, i in sorted(dists)[:7]]
    assert [r["vec_id"] for r in out] == expect


def test_similarity_join_matches_bruteforce(spark, vec_df):
    df, rows = vec_df
    probes = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb")
    )
    out = similarity_join(probes, df, k=4).collect()
    got = {}
    for r in out:
        got.setdefault(r["probe_id"], []).append(r["vec_id"])
    for pid in range(3):
        p = np.asarray(rows[pid][1], dtype=np.float64)
        dists = sorted(
            (
                1 - np.asarray(e, dtype=np.float64) @ p
                / (np.linalg.norm(e) * np.linalg.norm(p)),
                i,
            )
            for i, e in rows
        )
        assert got[pid] == [i for _, i in dists[:4]]


def test_lsh_knn_recall(spark, vec_df):
    df, rows = vec_df
    q = list(np.random.RandomState(11).randn(8))
    exact = {r["vec_id"] for r in knn(df, q, k=10, emb_col="embedding", id_col="vec_id").collect()}
    approx = {
        r["vec_id"]
        for r in lsh_bucketed_knn(
            df, q, k=10, emb_col="embedding", id_col="vec_id", n_planes=4, n_probes=2, normalized=False
        ).collect()
    }
    # approximate: just require meaningful overlap and correct cardinality cap
    assert len(approx) <= 10
    assert len(exact & approx) >= 3


def test_similarity_join_lsh_recall(spark, vec_df):
    from govgis_nov2023_slim_spatial_server_spark.operators.knn import similarity_join_lsh

    df, rows = vec_df
    probes = df.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb")
    )
    exact = similarity_join(probes, df, k=5).collect()
    approx = similarity_join_lsh(probes, df, k=5, n_planes=4, n_probes=3).collect()
    exact_pairs = {(r["probe_id"], r["vec_id"]) for r in exact}
    approx_pairs = {(r["probe_id"], r["vec_id"]) for r in approx}
    # every probe's own vector is its nearest neighbor and shares its bucket
    assert all((p, p) in approx_pairs for p in range(10))
    # meaningful recall from multi-probe on random data
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.4
    # distances for recalled pairs must be identical to the exact join
    exact_d = {(r["probe_id"], r["vec_id"]): r["dist"] for r in exact}
    for r in approx:
        key = (r["probe_id"], r["vec_id"])
        if key in exact_d:
            assert r["dist"] == pytest.approx(exact_d[key], abs=1e-12)


def test_similarity_join_local_prune_bounds_shuffle(spark, vec_df):
    """The pre-prune keeps ≤ k rows per (partition, probe) — the window's
    shuffle input is P·k·n_probes, not |corpus|·n_probes — and the pruned
    plan returns exactly the unpruned result."""
    from govgis_nov2023_slim_spatial_server_spark.operators.knn import local_topk_prune

    df, rows = vec_df
    probes = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_emb")
    )
    pruned = similarity_join(probes, df, k=4, local_prune=True)
    full = similarity_join(probes, df, k=4, local_prune=False)
    key = lambda r: (r["probe_id"], r["vec_id"], round(r["dist"], 9))
    assert sorted(map(key, pruned.collect())) == sorted(map(key, full.collect()))
    # the prune runs map-side (MapInPandas before the window's exchange)
    assert "MapInPandas" in pruned._jdf.queryExecution().executedPlan().toString()

    # direct bound check: after pruning, each (partition, probe) holds ≤ k rows
    corpus = df.repartition(4)
    scored = corpus.crossJoin(F.broadcast(probes)).withColumn(
        "dist", F.rand(seed=1)
    )
    n_parts = scored.rdd.getNumPartitions()
    kept = local_topk_prune(scored, 4, "probe_id", "dist", "vec_id")
    assert kept.count() <= n_parts * 4 * 3
    per = (
        kept.withColumn("pid", F.spark_partition_id())
        .groupBy("pid", "probe_id").count().agg(F.max("count")).first()[0]
    )
    assert per <= 4


def test_lsh_store_partition_pruning(spark, vec_df, tmp_path_factory):
    """write_lsh_partitioned + lsh_knn_from_store: the probe must prune at
    the PARTITION level (bucket directories skipped, not scanned) and the
    store round-trip must agree with in-memory LSH KNN."""
    from govgis_nov2023_slim_spatial_server_spark.operators.knn import (
        lsh_knn_from_store,
        write_lsh_partitioned,
    )

    df, rows = vec_df
    path = str(tmp_path_factory.mktemp("lshstore") / "corpus")
    write_lsh_partitioned(df, path, n_planes=4, seed=7)

    q = list(np.random.RandomState(23).randn(8))
    out = lsh_knn_from_store(spark, path, q, k=5, n_planes=4, n_probes=2, seed=7)
    got = [r["vec_id"] for r in out.collect()]
    mem = lsh_bucketed_knn(
        df, q, k=5, n_planes=4, n_probes=2, seed=7, normalized=False
    )
    assert got == [r["vec_id"] for r in mem.collect()]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:200]


def test_quantize_int8_roundtrip(spark):
    import numpy as np

    from govgis_nov2023_slim_spatial_server_spark.functions.vector import quantize_int8

    vecs = [
        (0, [0.5, -1.0, 0.25, 0.0]),
        (1, [127.0, -127.0, 1.0, -1.0]),
        (2, [0.001, 0.002, -0.003, 0.0015]),
    ]
    df = spark.createDataFrame(vecs, ["id", "v"]).withColumn(
        "v", F.col("v").cast("array<float>")
    )
    rows = {r["id"]: r for r in df.select("id", quantize_int8("v").alias("q")).collect()}
    for vid, vals in vecs:
        v = np.asarray(vals, dtype=np.float32).astype(np.float64)
        scale = np.abs(v).max() / 127.0
        q = np.clip(np.floor(v / scale + 0.5), -127, 127).astype(np.int64)
        got = rows[vid]["q"]
        assert got["scale"] == pytest.approx(scale, rel=1e-12)
        assert list(got["q"]) == q.tolist()
        mse = float(((v - q * scale) ** 2).mean())
        assert got["mse"] == pytest.approx(mse, rel=1e-9, abs=1e-15)
        # quantization bound: |x - q*scale| <= scale/2 everywhere
        assert np.abs(v - q * scale).max() <= scale / 2 + 1e-12


def test_argmin_euclidean_arrow_bit_identical_to_native(spark):
    """The r12 Arrow argmin kernel must be BIT-identical (cid AND raw
    double dist) to the native LEAST-of-(dist, cid)-structs form it
    replaced in kmeans_two_iterations — 400 random float32 vectors,
    centroids drawn from the same distribution, plus engineered exact
    ties (duplicate centroids ⇒ the lowest cid must win on both paths)."""
    import random

    import numpy as np

    from govgis_nov2023_slim_spatial_server_spark.functions.hashes import _let
    from govgis_nov2023_slim_spatial_server_spark.functions.vector import (
        argmin_euclidean_arrow,
        euclidean_distance,
    )

    rng = random.Random(20260815)
    dim = 16
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(400)
    ]
    # centroids 1..5 random; 6 duplicates 5 exactly (tie fixture); 7 is a
    # COPY of vector 0 (zero distance, exercises w=0-ish edge)
    cents = [(c, [rng.uniform(-1, 1) for _ in range(dim)]) for c in range(1, 6)]
    cents.append((6, list(cents[-1][1])))
    cents.append((7, [float(np.float32(x)) for x in vecs[0][1]]))
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )

    best = F.least(
        *[
            F.struct(
                euclidean_distance("embedding", v).alias("dist"),
                F.lit(c).cast("long").alias("cid"),
            )
            for c, v in cents
        ]
    )
    native = {
        r["vec_id"]: (r["cid"], r["dist"])
        for r in df.select(
            "vec_id",
            _let(
                best,
                lambda b: F.struct(
                    b.getField("cid").alias("cid"),
                    b.getField("dist").alias("dist"),
                ),
            ).alias("b"),
        )
        .select("vec_id", "b.cid", "b.dist")
        .collect()
    }
    assign = argmin_euclidean_arrow(cents)
    arrow = {
        r["vec_id"]: (r["b"]["cid"], r["b"]["dist"])
        for r in df.select("vec_id", assign("embedding").alias("b")).collect()
    }
    assert arrow == native  # exact: cids and raw doubles
    # the duplicate-centroid tie resolved to the LOWER cid somewhere
    assert all(c != 6 for c, _ in arrow.values())
