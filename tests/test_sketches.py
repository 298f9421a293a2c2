import pytest
from pyspark.sql import functions as F

from govgis_nov2023_slim_spatial_server_spark.operators.sketches import (
    bloom_filter,
    bloom_prefilter_join,
    count_min_sketch,
)
from govgis_nov2023_slim_spatial_server_spark.schemas import load_table


def test_count_min_never_undercounts(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    sketch = count_min_sketch(e, "event_type", eps=0.001)
    exact = {r["event_type"]: r["n"] for r in e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(exact.values())
    for k, n in exact.items():
        est = sketch.estimate(k)
        assert est >= n  # never undercounts
        assert est <= n + 0.01 * total  # generous eps bound


def test_bloom_no_false_negatives(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    bf = bloom_filter(c, "c_custkey", expected_items=1600, fpp=0.01)
    keys = [r["c_custkey"] for r in c.select("c_custkey").collect()]
    assert all(bf.might_contain(k) for k in keys)  # membership guaranteed
    misses = sum(bf.might_contain(10_000_000 + i) for i in range(1000))
    assert misses < 100  # ~fpp false positives


def test_bloom_prefilter_join_exact(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 20)
    plain = o.join(c, "c_custkey").count()
    filtered = bloom_prefilter_join(o, c, "c_custkey").count()
    assert filtered == plain  # false positives removed by the join → exact


@pytest.mark.parametrize("big_nulls", [False, True])
def test_bloom_prefilter_join_exact_with_null_keys(spark, big_nulls):
    """A NULL in an integral key column must not change how the other keys
    hash on either side of the filter (pandas widens such a column to
    float64: 5.0 hashed apart from 5 and every probe missed)."""
    small = spark.createDataFrame([(1, "a"), (2, "b"), (None, "n")], "k long, s string")
    big_keys = [1, 2, 2, 3] + ([None] if big_nulls else [])
    big = spark.createDataFrame([(k,) for k in big_keys], "k long")
    assert bloom_prefilter_join(big, small, "k").count() == big.join(small, "k").count() == 3
    cms = count_min_sketch(small, "k")
    assert (cms.estimate(1), cms.estimate(2)) == (1, 1)


def test_hll_error_band_across_regimes(spark):
    """The pinned-mix HLL estimate stays inside ±3σ (σ = 1.04/√64 ≈ 13%)
    of the true distinct count for sequential AND random key sets across
    two decades of cardinality — the regime sweep that caught the two
    rejected hash designs (affine-only: bucket skew; leading-zero rank on
    mod-prime top bits: −14% systematic bias)."""
    import random

    from govgis_nov2023_slim_spatial_server_spark.operators.sketches import (
        hll_estimate_by_group,
    )

    rng = random.Random(20260815)
    cases = {
        "seq150": list(range(150)),
        "seq2000": list(range(7777, 9777)),
        "rand500": rng.sample(range(10**6), 500),
        "rand5000": rng.sample(range(10**6), 5000),
    }
    rows = [(label, k) for label, keys in cases.items() for k in keys]
    df = spark.createDataFrame(rows, "label string, user_key long")
    out = {
        r["label"]: r["hll_estimate"]
        for r in hll_estimate_by_group(df, "label", "user_key").collect()
    }
    for label, keys in cases.items():
        n = len(keys)
        err = abs(out[label] / n - 1)
        assert err < 3 * 0.13, f"{label}: est {out[label]:.1f} vs {n} ({err:+.1%})"


def test_hll_duplicate_insensitive(spark):
    """Registers are MAX-idempotent: feeding every key 50× must give the
    bit-identical estimate of the deduplicated set."""
    from govgis_nov2023_slim_spatial_server_spark.operators.sketches import (
        hll_estimate_by_group,
    )

    once = spark.createDataFrame(
        [("g", k) for k in range(300)], "label string, user_key long"
    )
    dup = spark.createDataFrame(
        [("g", k) for k in range(300) for _ in range(50)],
        "label string, user_key long",
    )
    a = hll_estimate_by_group(once, "label", "user_key").collect()[0]
    b = hll_estimate_by_group(dup, "label", "user_key").collect()[0]
    assert a["register_sum"] == b["register_sum"]
    assert a["hll_estimate"] == b["hll_estimate"]
