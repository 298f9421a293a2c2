"""Second-wave coverage: grouping sets, pivot, outer/correlated joins,
scalar subqueries, exact percentiles, collect/explode, and deeper
vector/text analysis — rounding out the SURVEY.md §2.3 gap table so a
reference user gets the full general-analytics surface.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashes import char_shingles
from ..functions.text import tokens
from ..functions.vector import dot, euclidean_distance, l2_norm
from ..schemas import load_table
from ..session import local_rows_df
from ._registry import query, rnd_nz
from .vector_text import PROBE_SQL, PROBE_VEC, seed_centroids


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Grouping sets / pivot
# --------------------------------------------------------------------------


@query(
    "grouping_sets_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS aggregation (independent rollup axes in one pass)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIO_ALIASES = ["n_urgent", "n_high", "n_medium", "n_notspec", "n_low"]


@query(
    "pivot_status_priority",
    "SELECT o_orderstatus,\n"
    + ",\n".join(
        f"       COUNT(*) FILTER (WHERE o_orderpriority = '{p}') AS {a}"
        for p, a in zip(_PRIOS, _PRIO_ALIASES)
    )
    + "\nFROM orders GROUP BY o_orderstatus",
)
def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation). Missing combos must be 0, not NULL, to
    match SQL's FILTER-count semantics."""
    o = _t(spark, sf_dir, "orders")
    piv = o.groupBy("o_orderstatus").pivot("o_orderpriority", _PRIOS).count()
    return piv.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a)
            for p, a in zip(_PRIOS, _PRIO_ALIASES)
        ],
    )


# --------------------------------------------------------------------------
# Join shapes: full outer, correlated EXISTS, scalar subquery, cross
# --------------------------------------------------------------------------


@query(
    "full_outer_join_counts",
    """
    WITH left_side AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey < 100),
    right_side AS (
      SELECT o_custkey, COUNT(*) AS n_orders FROM orders
      WHERE o_custkey BETWEEN 50 AND 150 GROUP BY o_custkey)
    SELECT COALESCE(c_custkey, o_custkey) AS custkey,
           c_name,
           COALESCE(n_orders, 0) AS n_orders
    FROM left_side FULL OUTER JOIN right_side ON c_custkey = o_custkey
    """,
)
def full_outer_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with NULL-filling on both unmatched sides."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 100).select("c_custkey", "c_name")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey").between(50, 150))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@query(
    "exists_correlated_bigqty",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
    """,
)
def exists_correlated_bigqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS as a conditioned left-semi join (Catalyst's own
    decorrelation target shape)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    return o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total_price")
    )


@query(
    "scalar_subquery_above_avg",
    """
    SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT)
          * (SELECT COUNT(*) FROM customer)
        > (SELECT SUM(CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT))
           FROM customer)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar aggregate subquery via broadcast cross-join (stays in-plan —
    no driver collect). The above-average comparison runs in EXACT integer
    cents, cross-multiplied (bal > sum/n ⟺ bal_cents·n > sum_cents): a
    float AVG is partition-order-dependent in its last ulp, and a balance
    that exactly EQUALS the true mean can land on opposite sides of `>`
    per engine (the r9 property-gate find on agg_distinct_stats — same
    class as the q5 revenue lesson). Bounded: |cents| < 10^6, n < 2^40."""
    c = _t(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5)).cast("long")
    stats = c.agg(
        F.sum(cents).alias("__sum_cents"), F.count(F.lit(1)).alias("__n")
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .where(cents * F.col("__n") > F.col("__sum_cents"))
        .select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


@query(
    "cross_join_region_nation",
    """
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def cross_join_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two small dims (explicit crossJoin)."""
    r = _t(spark, sf_dir, "region").select("r_name")
    n = _t(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


# --------------------------------------------------------------------------
# Aggregation shapes: percentiles, multi-distinct, having, collect
# --------------------------------------------------------------------------


@query(
    "percentiles_by_status",
    """
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation, same estimator both engines).

    At 100 TB swap in approx_percentile and drop the oracle."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


@query(
    "distinct_multi_agg_orders",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_orderpriority) AS n_prios,
           COUNT(DISTINCT EXTRACT(year FROM o_orderdate)) AS n_years,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def distinct_multi_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) aggregates in one grouped pass."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_orderpriority").alias("n_prios"),
        F.countDistinct(F.year("o_orderdate")).alias("n_years"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "having_populous_nations",
    """
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer GROUP BY c_nationkey HAVING COUNT(*) >= 55
    """,
)
def having_populous_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation with post-aggregation HAVING filter."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .where(F.col("n_customers") >= 55)
    )


@query(
    "collect_sorted_priorities",
    """
    SELECT o_orderstatus,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios
    FROM orders GROUP BY o_orderstatus
    """,
)
def collect_sorted_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → deterministic via sort; emitted as a joined string so
    the value comparison is representation-stable."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderpriority"))).alias("prios")
    )


@query(
    "case_when_discount_buckets",
    """
    SELECT CASE WHEN l_discount < 0.02 THEN 'low'
                WHEN l_discount < 0.06 THEN 'mid'
                ELSE 'high' END AS bucket,
           COUNT(*) AS n,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           ROUND(AVG(COALESCE(NULLIF(l_tax, 0.0), 0.01)), 6) AS avg_tax_floor
    FROM lineitem GROUP BY 1
    """,
)
def case_when_discount_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE bucketing + NULLIF/COALESCE null-handling inside aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_discount") < 0.02, "low")
        .when(F.col("l_discount") < 0.06, "mid")
        .otherwise("high")
    )
    return li.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(
            F.avg(F.coalesce(F.nullif("l_tax", F.lit(0.0)), F.lit(0.01))), 6
        ).alias("avg_tax_floor"),
    )


# --------------------------------------------------------------------------
# Explode / vector structure
# --------------------------------------------------------------------------


@query(
    "explode_embedding_dims",
    """
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
           ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE), 6) + 0.0 AS val
    FROM embeddings, (SELECT unnest(range(1, 9)) AS i)
    WHERE vec_id < 10
    """,
)
def explode_embedding_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (UDTF-shape lateral view) over the first 8 dims."""
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 10)
    return e.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 8))
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        rnd_nz(F.col("col").cast("double"), 6).alias("val"),
    )


@query(
    "vector_centroids_by_label",
    """
    SELECT label, CAST(i - 1 AS BIGINT) AS pos,
           ROUND(AVG(CAST(embedding[CAST(i AS INT)] AS DOUBLE)), 4) + 0.0 AS centroid_val
    FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
    GROUP BY label, i
    """,
)
def vector_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped element-wise centroid: posexplode → (label, pos) hash-agg.
    One shuffle of n_rows×dim skinny rows; at scale prefer a grouped-agg
    pandas UDF summing numpy arrays per partition first."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding"))
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(rnd_nz(F.avg(F.col("col").cast("double")), 4).alias("centroid_val"))
    )


@query(
    "knn_euclidean",
    f"""
    SELECT vec_id,
           ROUND(list_distance(CAST(embedding AS DOUBLE[]), {PROBE_SQL}), 4) AS l2_dist
    FROM embeddings
    ORDER BY list_distance(CAST(embedding AS DOUBLE[]), {PROBE_SQL}), vec_id
    LIMIT 10
    """,
)
def knn_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact L2-distance KNN (TakeOrderedAndProject)."""
    e = _t(spark, sf_dir, "embeddings")
    d = euclidean_distance("embedding", PROBE_VEC)
    return (
        e.withColumn("__d", d)
        .orderBy(F.col("__d").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.round("__d", 4).alias("l2_dist"))
    )


@query(
    "dot_product_ranking",
    f"""
    SELECT vec_id, label,
           ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), {PROBE_SQL}), 4) + 0.0 AS score
    FROM embeddings
    ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), {PROBE_SQL}) DESC, vec_id
    LIMIT 15
    """,
)
def dot_product_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-product ranking (pgvector `<#>` analogue)."""
    e = _t(spark, sf_dir, "embeddings")
    s = dot("embedding", PROBE_VEC)
    return (
        e.withColumn("__s", s)
        .orderBy(F.col("__s").desc(), F.col("vec_id").asc())
        .limit(15)
        .select("vec_id", "label", rnd_nz("__s", 4).alias("score"))
    )


# --------------------------------------------------------------------------
# Text analysis (second wave)
# --------------------------------------------------------------------------


@query(
    "char_ngram_counts",
    """
    SELECT doc_id,
           CAST(len(list_distinct(list_transform(
             range(1, CASE WHEN LENGTH(text) >= 5 THEN LENGTH(text) - 4 ELSE 1 END + 1),
             i -> text[i:i+4]))) AS BIGINT) AS n_char5grams
    FROM documents
    """,
)
def char_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct character-5-gram counts per document (native substring enumeration)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.size(char_shingles("text", 5)).cast("long").alias("n_char5grams")
    )


_EN_STOP = ["the", "and", "of", "to", "in", "a", "is", "for"]
_EN_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _EN_STOP) + "]"


@query(
    "stopword_ratio_en",
    f"""
    SELECT doc_id,
           ROUND(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                 x -> list_contains({_EN_STOP_SQL}, x)))::DOUBLE
                 / len(regexp_split_to_array(trim(text), '\\s+')), 4) AS stop_ratio
    FROM documents
    """,
)
def stopword_ratio_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """English stopword hit ratio per document (native token filter)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.transform(tokens("text"), lambda t: F.lower(t))
    hits = F.size(F.filter(toks, lambda t: t.isin(_EN_STOP)))
    return d.select(
        "doc_id",
        F.round(hits.cast("double") / F.size(tokens("text")), 4).alias("stop_ratio"),
    )


# --------------------------------------------------------------------------
# Map / collection functions; aggregate-join-back
# --------------------------------------------------------------------------


@query(
    "map_funcs_events",
    """
    SELECT event_id,
           json_keys(props)[1] AS first_key,
           json_extract_string(props, '$.k')::BIGINT AS k_val,
           CAST(len(json_keys(props)) AS INT) AS n_keys
    FROM events
    """,
)
def map_funcs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON → MapType: from_json to a map, then map_keys/map_values —
    the schema-free path for semi-structured props columns."""
    e = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.map_keys(m)[0].alias("first_key"),
        F.map_values(m)[0].alias("k_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@query(
    "collection_funcs_lineitem",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(len(range(1, l_linenumber + 1)) AS INT) AS seq_len,
           list_contains(range(1, l_linenumber + 1), 3) AS has_three,
           array_to_string(list_reverse(list_transform(range(1, l_linenumber + 1),
                                                       x -> CAST(x AS VARCHAR))), '-') AS rev_str
    FROM lineitem
    WHERE l_orderkey < 500
    """,
)
def collection_funcs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + predicates + reverse (sequence/contains/
    transform/reverse — the native collection algebra)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 500)
    seq = F.sequence(F.lit(1).cast("int"), F.col("l_linenumber"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.size(seq).alias("seq_len"),
        F.array_contains(seq, 3).alias("has_three"),
        F.concat_ws("-", F.reverse(F.transform(seq, lambda x: x.cast("string")))).alias("rev_str"),
    )


@query(
    "min_cost_supplier_per_nation",
    """
    WITH mn AS (
      SELECT s_nationkey, MIN(s_acctbal) AS min_bal
      FROM supplier GROUP BY s_nationkey)
    SELECT s.s_nationkey, s.s_suppkey, s.s_name, ROUND(s.s_acctbal, 2) AS acctbal
    FROM supplier s JOIN mn ON s.s_nationkey = mn.s_nationkey
                   AND s.s_acctbal = mn.min_bal
    """,
)
def min_cost_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: aggregate then join back to recover the full row(s)
    achieving the group minimum (keeps ties, unlike a row_number pick)."""
    s = _t(spark, sf_dir, "supplier")
    mn = s.groupBy(F.col("s_nationkey").alias("nk")).agg(F.min("s_acctbal").alias("min_bal"))
    return (
        s.join(
            F.broadcast(mn),
            (s.s_nationkey == mn.nk) & (s.s_acctbal == mn.min_bal),
        )
        .select("s_nationkey", "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


@query(
    "unpivot_lineitem_measures",
    """
    SELECT l_orderkey, l_linenumber, measure, ROUND(val, 4) AS val
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
          FROM lineitem WHERE l_orderkey < 200)
    UNPIVOT (val FOR measure IN (l_quantity, l_discount, l_tax))
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) — the inverse of pivot."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "__v",
    ).select("l_orderkey", "l_linenumber", "measure", F.round("__v", 4).alias("val"))


@query(
    "argmax_order_per_status",
    """
    SELECT o_orderstatus, top_orderkey, bottom_orderkey FROM (
      SELECT o_orderstatus,
             FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_orderstatus
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS top_orderkey,
             FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_orderstatus
               ORDER BY o_totalprice ASC, o_orderkey ASC) AS bottom_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn
      FROM orders) WHERE rn = 1
    """,
)
def argmax_order_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregates) with a composite ordering key so
    ties resolve deterministically in both engines."""
    o = _t(spark, sf_dir, "orders")
    key = F.struct("o_totalprice", "o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", key).alias("top_orderkey"),
        F.min_by("o_orderkey", key).alias("bottom_orderkey"),
    )


@query(
    "kmeans_assign_step",
    f"""
    WITH c AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
      FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
    d AS (
      SELECT e.vec_id, c.cid,
             list_distance(CAST(e.embedding AS DOUBLE[]), c.cemb) AS dist
      FROM embeddings e CROSS JOIN c),
    a AS (
      SELECT vec_id, cid, dist FROM d
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)
    SELECT cid, COUNT(*) AS n_assigned, ROUND(AVG(dist), 4) AS avg_dist
    FROM a GROUP BY cid ORDER BY cid
    """,
)
def kmeans_assign_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd E-step: assign every embedding to its nearest of k=8
    centroids (seeded deterministically as the vectors with vec_id 1..8 —
    k-means|| at scale, but a data-derived seed keeps the oracle exact),
    reporting per-cluster membership count and mean L2 distance. Combined
    with vector_centroids_by_label (the M-step mean), this is the full
    k-means iteration a clustering/topic-bucketing pipeline loops.

    Scale shape: the k centroids are collected to the driver
    (`seed_centroids`, bounded — k rows) and compiled into the row
    expression as literals (`operators.kmeans.assign_nearest`), so the
    argmin is a per-row LEAST over k (distance, cid) structs: NO cross join, NO per-vector window or shuffle — the only
    Exchange left is the map-combined k-row per-cluster aggregate. This
    is exactly how IVF cell assignment scans 100 TB. Distances use the
    same sequential-fold arithmetic as knn_euclidean, so DuckDB's
    list_distance matches bit-for-bit; struct comparison is
    lexicographic, giving the same (dist, cid) tie-break as the oracle's
    window."""
    from ..operators.kmeans import assign_nearest

    e = _t(spark, sf_dir, "embeddings")
    a = assign_nearest(e, seed_centroids(e))
    return (
        a.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.round(F.avg("dist"), 4).alias("avg_dist"),
        )
        .orderBy("cid")
    )


@query(
    "mad_totalprice_by_status",
    """
    WITH med AS (
      SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
      FROM orders GROUP BY o_orderstatus)
    SELECT o.o_orderstatus,
           ROUND(MAX(m.med), 4) AS median_price,
           ROUND(quantile_cont(ABS(o.o_totalprice - m.med), 0.5), 4) AS mad_price
    FROM orders o JOIN med m USING (o_orderstatus)
    GROUP BY o.o_orderstatus
    """,
)
def mad_totalprice_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per group: median and median-absolute-deviation of
    order totals — the outlier-resistant scale statistic quality gates use
    where stddev would be dragged by the tail.

    Two-pass shape: per-group exact median (same linear-interpolation
    estimator both engines, the percentiles_by_status pairing), broadcast
    back, then the median of absolute deviations. 2-decimal inputs make
    every interpolated value at most 3-decimal, so ROUND(.,4) is exact
    pass-through — no half-tie exposure. At 100 TB both passes become
    approx_percentile (drop the oracle); the join stays broadcast (one row
    per group)."""
    o = _t(spark, sf_dir, "orders")
    med = o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med")
    )
    j = o.join(F.broadcast(med), "o_orderstatus")
    return j.groupBy("o_orderstatus").agg(
        F.round(F.max("med"), 4).alias("median_price"),
        F.round(
            F.percentile(F.abs(F.col("o_totalprice") - F.col("med")), F.lit(0.5)), 4
        ).alias("mad_price"),
    )


@query(
    "stats_corr_regression",
    """
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS slope,
           ROUND(regr_r2(l_extendedprice, l_quantity), 4) AS r2
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped statistical aggregates: Pearson correlation and OLS
    slope/R² between quantity and price — the feature-relationship scan
    an EDA/feature-selection pass runs per segment.

    Spark's native corr/regr_slope/regr_r2 HARD-ERROR under ANSI mode on
    a zero-variance group (DIVIDE_BY_ZERO — found by the random-lineitem
    property gate on an all-identical group), so the estimators are
    assembled from the division-free co-moments (covar_pop / var_pop /
    stddev_pop) with guarded divisions mirroring DuckDB's NULL semantics
    exactly: corr NULL if either variance is 0; slope NULL iff var(x)=0;
    r² NULL if var(x)=0 and 1.0 if var(y)=0. Partition-order summation
    differs only in the last ulp (ROUND 4 absorbs it; rnd_nz guards the
    near-zero correlations from the ±0.0 split). Scale shape: still ONE
    map-combining agg, constant state per group."""
    li = _t(spark, sf_dir, "lineitem")
    x, y = "l_quantity", "l_extendedprice"
    agg = li.groupBy("l_returnflag").agg(
        F.var_pop(x).alias("__vx"),
        F.var_pop(y).alias("__vy"),
        F.covar_pop(x, y).alias("__cxy"),
        F.stddev_pop(x).alias("__sx"),
        F.stddev_pop(y).alias("__sy"),
    )
    vx, vy = F.col("__vx"), F.col("__vy")
    cxy = F.col("__cxy")
    corr = F.when((vx > 0) & (vy > 0), cxy / (F.col("__sx") * F.col("__sy")))
    slope = F.when(vx > 0, cxy / vx)
    r2 = F.when(
        vx > 0, F.when(vy == 0, F.lit(1.0)).otherwise((cxy * cxy) / (vx * vy))
    )
    return agg.select(
        "l_returnflag",
        rnd_nz(corr, 4).alias("corr_qty_price"),
        rnd_nz(slope, 4).alias("slope"),
        F.round(r2, 4).alias("r2"),
    )


@query(
    "bitwise_aggs_orders",
    """
    SELECT o_orderstatus,
           bit_or(o_orderkey) AS key_or,
           bit_and(o_orderkey) AS key_and,
           bit_xor(o_orderkey) AS key_xor
    FROM orders GROUP BY o_orderstatus
    """,
)
def bitwise_aggs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise OR/AND/XOR aggregates — exact-integer, order-independent
    folds (XOR is the same primitive table_checksum_orders builds its
    order-insensitive checksum from). Map-side combinable; nothing to
    round, nothing engine-specific."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_xor("o_orderkey").alias("key_xor"),
    )


@query(
    "event_type_change_log",
    """
    WITH o AS (
      SELECT user_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events),
    g AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY rn) AS run_id
      FROM o)
    SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
           CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS run_start_s,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id, run_id, event_type
    """,
)
def event_type_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands change detection: collapse each user's event
    stream into RUNS of consecutive identical event_type (the SCD-style
    change log a behavioral pipeline derives from raw events — "user
    switched from browsing to buying at t"). The classic two-window
    decomposition: a null-safe LAG marks change points, a running SUM
    numbers the runs, one group-by collapses them.

    Scale shape: both windows and the final aggregate share ONE
    hash-partitioning on user_id — a single shuffle end-to-end (AQE
    reuses the exchange); per-user state is a sort within partitions.
    run_start_s truncates to epoch seconds on both engines (Spark
    cast-long, DuckDB FLOOR(epoch)) per the oracle conventions."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "event_type",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.when(
            F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), F.lit(0)
        )
        .otherwise(F.lit(1))
        .alias("chg"),
    )
    wr = Window.partitionBy("user_id").orderBy("rn")
    runs = marked.withColumn("run_id", F.sum("chg").over(wr).cast("long"))
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").cast("long").alias("run_start_s"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "cumulative_distinct_users",
    """
    WITH f AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day
      FROM events GROUP BY user_id),
    d AS (SELECT day, COUNT(*) AS n_new_users FROM f GROUP BY day)
    SELECT day, n_new_users,
           CAST(SUM(n_new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
    FROM d
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over time (the audience/corpus growth curve)
    via the first-seen conversion: a windowed COUNT(DISTINCT) needs
    per-window distinct state and Spark refuses it outright — but
    "distinct users through day d" ≡ "users whose FIRST event is ≤ d", so
    one groupBy(user) MIN(date) + a daily count + a running sum over the
    ~|days| spine computes it exactly. The window runs over the aggregated
    spine (days), never the raw events — state is O(days), not O(users),
    at any corpus size; that conversion IS the scale mechanism here.

    Date truncation uses the UTC session pin (schemas.load_table), so
    Spark's to_date and DuckDB's CAST(ts AS DATE) agree."""
    e = _t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily = first.groupBy("day").agg(F.count(F.lit(1)).alias("n_new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.withColumn("cum_users", F.sum("n_new_users").over(w))


@query(
    "zscore_norms_by_label",
    """
    WITH v AS (
      SELECT vec_id, label,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    s AS (
      SELECT label, AVG(nrm) AS mu, stddev_samp(nrm) AS sd
      FROM v GROUP BY label)
    SELECT v.vec_id, v.label,
           ROUND(CASE WHEN s.sd IS NULL OR s.sd = 0 THEN 0.0
                      ELSE (v.nrm - s.mu) / s.sd END, 4) + 0.0 AS z
    FROM v JOIN s USING (label)
    """,
)
def zscore_norms_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group standardization through the GROUPED-MAP Arrow path — the
    one pandas-UDF shape the catalog didn't yet grade (scalar pandas UDFs,
    mapInPandas, and applyInPandasWithState all have entries):
    ``groupBy(label).applyInPandas`` receives each label's rows as ONE
    pandas frame and z-scores the embedding norms within it. The norm is
    computed NATIVELY before the grouped map (sequential fold = DuckDB's
    list_dot_product bit-for-bit); inside the group, pandas mean/std(ddof=1)
    match AVG/stddev_samp to ~1e-15 relative, dissolved by the 4-decimal
    round.

    Scale shape: one hash shuffle on the group key; each group streams
    through Arrow once. This is the normalization step feature pipelines
    run per category/shard — and the template for any custom per-group
    kernel Spark lacks natively."""
    import pandas as pd

    from ..functions.vector import l2_norm

    e = _t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", "label", l2_norm("embedding").alias("nrm"))

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["nrm"].mean()
        sd = pdf["nrm"].std(ddof=1)
        out = pdf[["vec_id", "label"]].copy()
        # singleton group → sd NaN; constant group → sd 0: emit 0 (the
        # oracle's CASE does the same) instead of NaN-vs-NULL hash drift
        if not (sd and sd > 0):
            out["z"] = 0.0
        else:
            out["z"] = (pdf["nrm"] - mu) / sd
        return out

    zs = v.groupBy("label").applyInPandas(zscore, "vec_id long, label long, z double")
    return zs.select("vec_id", "label", rnd_nz(F.col("z"), 4).alias("z"))


@query(
    "pagerank_one_iter",
    """
    WITH c AS (
      SELECT vec_id, label, embedding,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    p AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (a.nrm * b.nrm) >= 0.15),
    e AS (SELECT ia AS s, ib AS d FROM p UNION ALL SELECT ib AS s, ia AS d FROM p),
    deg AS (SELECT s, COUNT(*) AS outdeg FROM e GROUP BY s),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM deg),
    pr AS (
      SELECT e.d AS id, MAX(n.nn) AS nn,
             SUM(1.0 / (n.nn * deg.outdeg)) AS inflow
      FROM e JOIN deg ON e.s = deg.s CROSS JOIN n
      GROUP BY e.d)
    SELECT id AS vec_id,
           ROUND(0.15 / nn + 0.85 * inflow, 8) + 0.0 AS pagerank
    FROM pr
    """,
)
def pagerank_one_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power-iteration step (d = 0.85, uniform start) over the
    near-dup graph — the normalize-and-propagate message-passing pattern
    that complements hash-min components (dedup_components): instead of a
    min fold, each node DIVIDES its mass by out-degree and the reducer
    SUMS incoming messages. Together they cover the two aggregation
    shapes every distributed graph algorithm is built from.

    Exactness: the start vector 1/N and each message 1/(N·outdeg) are the
    same doubles in both engines (pure integer ratios); only summation
    order differs (~1e-17), dissolved by the 8-decimal round. N (node
    count) is a bounded driver scalar — the same k-row collect pattern as
    the IVF seeds.

    Scale shape: edges shuffle twice on 8-byte node ids (degree, then
    inflow), both map-combinable; iterating is a loop of this step with
    the converged vector checkpointed per round."""
    from ..operators.dedup import embedding_near_duplicates

    e = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(
        e, id_col="vec_id", emb_col="embedding", threshold=0.15, block_col="label"
    ).select("id_a", "id_b")
    edges = pairs.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("d")
    ).unionByName(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg"))
    # an empty pair set (degenerate regen) must yield 0 rows, not a
    # division by zero in the literals below — inflow is empty either way
    nn = float(deg.count()) or 1.0
    inflow = (
        edges.join(deg, "s")
        .groupBy("d")
        .agg(F.sum(F.lit(1.0) / (F.lit(nn) * F.col("outdeg"))).alias("inflow"))
    )
    return inflow.select(
        F.col("d").alias("vec_id"),
        rnd_nz(F.lit(0.15 / nn) + F.lit(0.85) * F.col("inflow"), 8).alias("pagerank"),
    )


# --------------------------------------------------------------------------
# Exact distributed quantiles without a global sort (two-pass histogram)
# --------------------------------------------------------------------------

# histogram bin width in CENTS (2^21 ≈ $20 971.52): o_totalprice tops out
# near $600k ≈ 6e7 cents, so ~29 occupied bins per status — the pass-1
# collect is |statuses| × bins, corpus-size-independent
_QH_W = 1 << 21
# pass-1 collect bound: if the (group × bin) count exceeds this, the
# histogram is rebuilt at 16× the width instead of asserting (r12
# VERDICT #6 — a wide cents range is a scale event, not a crash)
_QH_GUARD = 10_000
# max rows pass 2 will window-sort within one target bin; a bin counted
# above this is re-histogrammed WITHIN itself at 128× finer width (one
# extra bounded round trip per level) until it fits or reaches width 1,
# where all values are equal and the answer is the bin itself
_QH_BIN_ROWS_MAX = 1 << 22


def _qh_hist_collect(base, aggs, w0: int):
    """Limit-guarded pass-1 histogram collect with the ×16 auto-widen
    (r12 VERDICT #6): a histogram wider than ``_QH_GUARD`` (group × bin)
    rows is rebuilt at 16× the width — the LIMIT caps every attempt's
    collect at guard+1 rows, so the driver never materializes an
    overflow. ``base`` must carry columns ``s`` (group) and ``cents``
    (int64 value); returns ``(rows, width)``."""
    w = w0
    while True:
        hist = (
            base.groupBy("s", F.expr(f"cents DIV {w}").alias("b"))
            .agg(*aggs)
            .limit(_QH_GUARD + 1)
            .collect()
        )
        if len(hist) <= _QH_GUARD:
            return hist, w
        w <<= 4  # auto-widen: one extra bounded pass per factor-16 step


def _qh_walk(bins, rank: int):
    """The first of the value-sorted ``(bin, weight, rows)`` triples whose
    cumulative weight reaches ``rank``: returns ``(bin, rank's offset
    within it, its row count)``. Pass 1's walk and every refine level
    share it."""
    cum = 0
    for b, ws, c in bins:
        if cum + ws >= rank:
            return b, rank - cum, c
        cum += ws


def _hist_quantiles(
    spark: SparkSession,
    t: DataFrame,
    group: str,
    price: str,
    weight: str | None,
    total: str,
    tag: str,
) -> DataFrame:
    """EXACT per-``group`` weighted lower median and ceil-rank p90 of
    ``price`` (int64 cents, FLOOR(x·100+0.5) on both engines) WITHOUT a
    global sort. ``weight`` is an integral column; ``None`` is weight 1,
    which makes the weighted rule the plain order statistic: the k-th
    smallest value is the smallest v with #{x ≤ v} ≥ k, ties included.
    Ranks are int-exact on both engines: r50 = (W+1) DIV 2,
    r90 = (9W+9) DIV 10 = ceil(0.9·W) over the group's total weight W.
    Output: ``group``, ``total`` (W), ``{tag}50_cents``, ``{tag}90_cents``
    and the two /100 doubles.

      pass 1: map-combined SUM(weight) + row-count histogram per
              (group, cents DIV 2^21) — |groups| × occupied-bins rows,
              corpus-size-independent (`_qh_hist_collect`, auto-widen
              ×16 past _QH_GUARD);
      driver: `_qh_walk` locates each rank's bin and its in-bin weight
              offset; a target bin counted above _QH_BIN_ROWS_MAX rows is
              re-histogrammed WITHIN itself at 128× finer width (the
              guard is row count, the window-sort cost; the walk
              advances by weight) until it fits or reaches width 1;
      pass 2: re-scan ONLY the target bins behind pushed-down price RANGE
              predicates (widened ±2 cents so float rounding can't
              exclude a boundary row) and take MIN(cents) among rows
              whose in-bin RANGE-cumulative weight reaches the offset —
              ties share their tie-group total, so duplicates cannot
              order-diverge. A width-1 bin holds one value and resolves
              driver-side with no scan.

    NULLs follow the oracles: a NULL price counts toward W and sorts last
    (its bin walks last and resolves to NULL), and a NULL group is one
    group (null-safe predicates, the total carried in the target rows
    rather than a map keyed by the group)."""
    cents = F.floor(F.col(price) * 100 + F.lit(0.5)).cast("long")
    wcol = F.lit(1) if weight is None else F.col(weight).cast("long")

    def rows(cond=None) -> DataFrame:
        src = t if cond is None else t.where(cond)
        return src.select(
            F.col(group).alias("s"), cents.alias("cents"), wcol.alias("w")
        )

    def interval(ts: list[dict]):
        # price RANGE predicates for parquet row-group pruning; the exact
        # int64 cents bounds are the downstream refine
        return reduce(
            operator.or_,
            [
                (F.col(group).isNull() if x["s"] is None else F.col(group) == x["s"])
                & (F.col(price) >= x["lo"] / 100.0 - 0.02)
                & (F.col(price) < x["hi"] / 100.0 + 0.02)
                for x in ts
            ],
        )

    aggs = [F.sum("w").alias("wsum"), F.count(F.lit(1)).alias("cnt")]
    hist, w0 = _qh_hist_collect(rows(), aggs, _QH_W)
    by_s: dict = {}
    for r in hist:
        by_s.setdefault(r["s"], []).append((r["b"], r["wsum"], r["cnt"]))
    # targets: the smallest cents in [lo, hi) whose in-interval cumulative
    # weight reaches off; cnt is the interval's ROW count; lo is None for
    # the NULL-price bin
    targets = []
    for s, bins in by_s.items():
        bins.sort(key=lambda x: (x[0] is None, x[0] or 0))
        n = sum(ws for _, ws, _ in bins)
        for q, rank in (("50", (n + 1) // 2), ("90", (9 * n + 9) // 10)):
            b, off, c = _qh_walk(bins, rank)
            lo = None if b is None else b * w0
            targets.append({"s": s, "n": n, "tag": f"{tag}{q}", "lo": lo,
                            "hi": None if b is None else lo + w0,
                            "off": off, "cnt": c})
    if not targets:  # empty input table
        return spark.createDataFrame(
            [],
            f"{group} string, {total} long, {tag}50_cents long,"
            f" {tag}90_cents long, {tag}50 double, {tag}90 double",
        )

    # recursion-within-bin: every level narrows ALL still-oversized
    # targets (they share a width by construction — a target leaves the
    # set the level its count fits) with ONE bounded histogram pass
    cur_w = w0
    while cur_w > 1:
        oversized = [
            x for x in targets
            if x["lo"] is not None and x["cnt"] > _QH_BIN_ROWS_MAX
        ]
        if not oversized:
            break
        sub_w = max(1, cur_w >> 7)
        sub_by: dict = {}
        for r in (
            rows(interval(oversized))
            .groupBy(
                "s",
                F.expr(f"cents DIV {cur_w}").alias("pb"),
                F.expr(f"cents DIV {sub_w}").alias("sb"),
            )
            .agg(*aggs)
            .collect()
        ):  # bounded: ≤ |oversized| × (cur_w/sub_w ≤ 128) rows
            sub_by.setdefault((r["s"], r["pb"]), []).append(
                (r["sb"], r["wsum"], r["cnt"])
            )
        for x in oversized:
            sb, x["off"], x["cnt"] = _qh_walk(
                sorted(sub_by[(x["s"], x["lo"] // cur_w)]), x["off"]
            )
            x["lo"], x["hi"] = sb * sub_w, (sb + 1) * sub_w
        cur_w = sub_w

    direct = [x for x in targets if x["lo"] is None or x["hi"] - x["lo"] == 1]
    scan = [x for x in targets if x["lo"] is not None and x["hi"] - x["lo"] > 1]
    parts = []
    if scan:
        tgt = local_rows_df(
            spark,
            [(x["s"], x["n"], x["lo"], x["hi"], x["off"], x["tag"]) for x in scan],
            "ts string, n long, lo long, hi long, off long, tag string",
        )
        joined = rows(interval(scan)).join(
            F.broadcast(tgt),
            F.col("s").eqNullSafe(F.col("ts"))
            & (F.col("cents") >= F.col("lo"))
            & (F.col("cents") < F.col("hi")),
        )
        w = Window.partitionBy("ts", "lo", "tag").orderBy("cents")
        parts.append(
            joined.withColumn("cum", F.sum("w").over(w))
            .where(F.col("cum") >= F.col("off"))
            .groupBy("s", "n", "tag")
            .agg(F.min("cents").alias("cents"))
        )
    if direct:
        parts.append(
            local_rows_df(
                spark,
                [(x["s"], x["n"], x["tag"], x["lo"]) for x in direct],
                "s string, n long, tag string, cents long",
            )
        )
    qs = ("50", "90")
    out = reduce(DataFrame.unionByName, parts).groupBy("s").agg(
        F.max("n").alias(total),
        *[
            F.max(F.when(F.col("tag") == f"{tag}{q}", F.col("cents")))
            .alias(f"{tag}{q}_cents")
            for q in qs
        ],
    )
    return out.select(
        F.col("s").alias(group),
        total,
        *[f"{tag}{q}_cents" for q in qs],
        *[(F.col(f"{tag}{q}_cents").cast("double") / 100).alias(f"{tag}{q}") for q in qs],
    )


@query(
    "exact_quantiles_histogram",
    """
    WITH c AS (
      SELECT o_orderstatus AS s,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    r AS (
      SELECT s, cents,
             ROW_NUMBER() OVER (PARTITION BY s ORDER BY cents) AS rn,
             COUNT(*) OVER (PARTITION BY s) AS n
      FROM c)
    SELECT s AS o_orderstatus,
           MAX(n) AS n_orders,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
           MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS p90_cents,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS DOUBLE)
             / 100 AS p50,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS DOUBLE)
             / 100 AS p90
    FROM r GROUP BY s
    """,
)
def exact_quantiles_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-status quantiles of o_totalprice (lower median, ceil-rank
    p90) WITHOUT a global sort — the technique that makes exact order
    statistics viable at 100 TB, where the catalog's other quantile
    entries either sort within a partition-sized group
    (percentiles_by_status) or accept sketch bounds (approx_stats_events).
    `_hist_quantiles` at weight 1: the selected VALUE is the k-th smallest
    of the multiset, well-defined under duplicate cents; everything stays
    int64 cents until the final /100 (the _revenue_e4 discipline)."""
    o = _t(spark, sf_dir, "orders")
    return _hist_quantiles(
        spark, o, "o_orderstatus", "o_totalprice", None, "n_orders", "p"
    )


# --------------------------------------------------------------------------
# Multi-iteration PageRank in exact int64 fixed-point
# --------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000_000  # rank fixed-point: 1e12 per node at start
_PR_BASE = 150_000_000_000  # 0.15 · SCALE, the damping floor

_PR_ITER_SQL = """
    {out} AS (
      SELECT e.d AS id,
             CAST(150000000000 AS BIGINT)
               + (85 * CAST(SUM({prev}.r // deg.deg) AS BIGINT)) // 100 AS r
      FROM e JOIN {prev} ON e.s = {prev}.id JOIN deg ON e.s = deg.s
      GROUP BY e.d)"""


@query(
    "pagerank_power_iters",
    """
    WITH pp AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e AS (SELECT pa AS s, pb AS d FROM pp
          UNION ALL SELECT pb AS s, pa AS d FROM pp),
    deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY s),
    r0 AS (SELECT s AS id, CAST(1000000000000 AS BIGINT) AS r FROM deg),"""
    + _PR_ITER_SQL.format(out="i1", prev="r0")
    + ","
    + _PR_ITER_SQL.format(out="i2", prev="i1")
    + ","
    + _PR_ITER_SQL.format(out="i3", prev="i2")
    + """
    SELECT id AS l_partkey, r AS pagerank_e12
    FROM i3 ORDER BY pagerank_e12 DESC, l_partkey LIMIT 20
    """,
)
def pagerank_power_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE PageRank power iterations (d = 0.85) over the co-order part
    graph, in EXACT int64 fixed-point — the multi-iteration form of
    `pagerank_one_iter` (whose one float step needed an 8-decimal round;
    here every rank is a BIGINT, so the whole trajectory hash-compares
    bit-exactly and iteration count can grow without float drift).

    Graph: parts are nodes; an undirected edge links parts that share an
    order (DISTINCT co-order pairs — per-order fan-out is bounded by
    order size ≤ 7 lines, so the l_orderkey self-join never goes
    quadratic in the table). Recurrence, identical in both engines:
      r₀ = 10^12;  rᵢ₊₁(v) = 0.15·10^12 + (85 · Σ_{u→v} (rᵢ(u) DIV deg u)) DIV 100
    Integer floor division on positive operands is the same operation in
    Spark (DIV) and DuckDB (//). Overflow proof under ANSI: damping keeps
    total mass ≈ N·10^12; one node's inflow is ≤ total mass, so with
    N ≤ 10^5 graded nodes 85·inflow < 10^19·0.85 < 2^63. (At 10^9-node
    scale the SCALE constant rescales to keep N·SCALE·85 < 2^63 — the
    spec knob, documented rather than hidden in doubles.)

    Scale shape: edges and degrees are localCheckpointed ONCE (four
    consumers — recomputing the self-join per iteration is the plan-branch
    rescan trap, the tagged-layer rasterize lesson); each iteration is one
    broadcast of the node-sized message table into the edge scan plus a
    map-combined groupBy(dst) sum. At 100 TB the ranks outgrow broadcast:
    the production swap is edges bucketed by s reused across iterations
    (shuffle-free msg join), dst-sum unchanged — the driver-loop pattern
    generalized by operators/kmeans.lloyd_iterate. Output is a 20-row
    TakeOrderedAndProject with partkey tie-break."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b2 = li.alias("a"), li.alias("b")
    pp = (
        a.join(b2, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
    )
    e = pp.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("s"), F.col("pb").alias("d")),
                F.struct(F.col("pb").alias("s"), F.col("pa").alias("d")),
            )
        ).alias("x")
    ).select("x.s", "x.d")
    e = e.localCheckpoint(eager=False)
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    deg = deg.localCheckpoint(eager=False)
    ranks = deg.select(
        F.col("s").alias("id"), F.lit(_PR_SCALE).cast("long").alias("r")
    )
    for _ in range(3):
        # qualified aliases: iteration 1's ranks DERIVES from deg, so an
        # unqualified join is an ambiguous self-join to the analyzer
        msg = (
            ranks.alias("rk")
            .join(deg.alias("dg"), F.col("rk.id") == F.col("dg.s"))
            .select(
                F.col("dg.s").alias("s"),
                F.expr("rk.r DIV dg.deg").alias("c"),
            )
        )
        inflow = (
            e.join(F.broadcast(msg), "s")
            .groupBy("d")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = inflow.select(
            F.col("d").alias("id"),
            (
                F.lit(_PR_BASE).cast("long") + F.expr("(85 * inflow) DIV 100")
            ).alias("r"),
        )
    return (
        ranks.orderBy(F.desc("r"), "id")
        .select(F.col("id").alias("l_partkey"), F.col("r").alias("pagerank_e12"))
        .limit(20)
    )


_BFS_LEVEL_SQL = """
    {out} AS (
      SELECT DISTINCT e.d AS id FROM e JOIN {prev} ON e.s = {prev}.id
      WHERE {excl})"""


# One round of min-label propagation over the order-part rows: each
# order's minimum label, then each part's minimum of its own label and its
# orders' minimum + 1. A NULL order links nothing; its rows keep their own
# labels. Round 1 labels the seed rows in place; later rounds read the
# previous round's part labels, node-sized and broadcast onto the rows.
_BFS_ROUND = """
    l{i} AS (
      SELECT p, MIN(lvl) AS lvl FROM (
        SELECT p, LEAST(lvl, CASE WHEN o IS NOT NULL
                             THEN MIN(lvl) OVER (PARTITION BY o) + 1 END) AS lvl
        FROM ({rows}))
      WHERE lvl IS NOT NULL GROUP BY p)"""
_BFS_SQL = (
    "WITH lio AS (SELECT /*+ REPARTITION({n}, o) */ l_orderkey AS o,"
    " l_partkey AS p FROM {li} WHERE l_partkey IS NOT NULL),"
    + _BFS_ROUND.format(
        i=1, rows="SELECT o, p, CASE WHEN p % 97 = 1 THEN 0 END AS lvl FROM lio"
    )
    + "".join(
        "," + _BFS_ROUND.format(
            i=i,
            rows=f"SELECT /*+ BROADCAST(l{i - 1}) */ o, lio.p, l{i - 1}.lvl"
            f" FROM lio LEFT JOIN l{i - 1} ON lio.p = l{i - 1}.p",
        )
        for i in (2, 3)
    )
    + " SELECT p AS l_partkey, lvl FROM l3 ORDER BY l_partkey"
)


@query(
    "graph_bfs_levels",
    """
    WITH pp AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    e AS (SELECT pa AS s, pb AS d FROM pp
          UNION ALL SELECT pb AS s, pa AS d FROM pp),
    n AS (SELECT DISTINCT l_partkey AS id FROM lineitem),
    l0 AS (SELECT id FROM n WHERE id % 97 = 1),"""
    + _BFS_LEVEL_SQL.format(
        out="l1", prev="l0", excl="e.d NOT IN (SELECT id FROM l0)"
    )
    + ","
    + _BFS_LEVEL_SQL.format(
        out="l2",
        prev="l1",
        excl="e.d NOT IN (SELECT id FROM l0)"
        " AND e.d NOT IN (SELECT id FROM l1)",
    )
    + ","
    + _BFS_LEVEL_SQL.format(
        out="l3",
        prev="l2",
        excl="e.d NOT IN (SELECT id FROM l0)"
        " AND e.d NOT IN (SELECT id FROM l1)"
        " AND e.d NOT IN (SELECT id FROM l2)",
    )
    + """
    SELECT id AS l_partkey, lvl FROM (
      SELECT id, 0 AS lvl FROM l0
      UNION ALL SELECT id, 1 AS lvl FROM l1
      UNION ALL SELECT id, 2 AS lvl FROM l2
      UNION ALL SELECT id, 3 AS lvl FROM l3)
    ORDER BY l_partkey
    """,
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS levels over the co-order part graph (the
    pagerank_power_iters graph: two parts are adjacent when they share
    an order). Seeds are parts with ``l_partkey % 97 == 1``; every part
    within 3 hops gets its exact hop count (level 0..3), one row per
    reached part, all-integer so the whole result hash-compares exactly.

    Engine: three rounds of min-label propagation (``_BFS_ROUND``) over
    lineitem's order-part rows, not a BFS over the materialized pair
    graph. Each round advances every label by one hop and is linear in
    lineitem, where the pair self-join grows with the square of each
    order's size. The whole query is one lazy SQL statement: one keyed
    exchange on the order serves all three rounds' windows, and nothing
    runs until the caller's action. The exchange is pinned to
    ``defaultParallelism``: at local[4], sf0.1, widths 2 and 8 took 1.92
    and 1.81 s against 1.49 s at 4 (median of 5). NULLs follow the
    oracle: a NULL part is never a node, a NULL order links no parts,
    and a seed is level 0 on any row.

    Oracle: the same levels unrolled into chained CTEs over the DISTINCT
    pair graph (NOT IN exclusions over the prior levels; ids are
    non-null there)."""
    return spark.sql(
        _BFS_SQL,
        li=_t(spark, sf_dir, "lineitem"),
        n=spark.sparkContext.defaultParallelism,
    )


# --------------------------------------------------------------------------
# Weighted exact quantiles (two-pass histogram, weighted ranks)
# --------------------------------------------------------------------------


@query(
    "weighted_median_histogram",
    """
    WITH c AS (
      SELECT l_returnflag AS s,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem),
    g AS (SELECT s, SUM(w) AS tw FROM c GROUP BY s),
    r AS (
      SELECT s, cents,
             SUM(w) OVER (PARTITION BY s ORDER BY cents) AS cum
      FROM c)
    SELECT r.s AS l_returnflag,
           CAST(MAX(g.tw) AS BIGINT) AS total_weight,
           MIN(CASE WHEN cum >= (g.tw + 1) // 2 THEN cents END)
             AS wp50_cents,
           MIN(CASE WHEN cum >= (9 * g.tw + 9) // 10 THEN cents END)
             AS wp90_cents,
           CAST(MIN(CASE WHEN cum >= (g.tw + 1) // 2 THEN cents END)
                AS DOUBLE) / 100 AS wp50,
           CAST(MIN(CASE WHEN cum >= (9 * g.tw + 9) // 10 THEN cents END)
                AS DOUBLE) / 100 AS wp90
    FROM r JOIN g ON r.s = g.s
    GROUP BY r.s
    """,
)
def weighted_median_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED exact quantiles (weighted lower median and ceil-rank
    weighted p90 of l_extendedprice, weighted by integral l_quantity)
    per return flag, WITHOUT a global sort: `_hist_quantiles` with a
    weight (quantity-weighted price quantiles are the 'where does the
    median shipped unit price sit' question; sample-weighted percentiles
    are the survey/training-mixture form). The weighted p-quantile is the
    SMALLEST value whose RANGE-cumulative weight reaches the rank. A NULL
    flag is no group here, as in the oracle's inner join on the flag.
    Knob paths pinned in tests/test_r14_catalog.py against the oracle at
    forced-narrow widths."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag").isNotNull())
    return _hist_quantiles(
        spark, li, "l_returnflag", "l_extendedprice", "l_quantity", "total_weight", "wp"
    )
