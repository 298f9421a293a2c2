"""Spatial, reprojection, HTML→Markdown, and multimodal queries.

The driver tables carry no geometry, so spatial queries derive
deterministic rectangles arithmetically from table keys, encode them
through the REAL WKB path (pandas-UDF box encoder → WKB bytes → bbox
derivation → coarse prune → exact ray-casting refine), and the oracle
checks the same containment with plain double arithmetic — exercising the
full geometry stack against an exactly-computable answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.spatial import (
    bbox_contains_point,
    bboxes_overlap,
    make_box_wkb_udf,
    make_polys_intersect_udf,
    make_reproject_udf,
    point_in_rings,
)
from ..functions.text import html_to_markdown_udf
from ..operators.multimodal import extract_byte_stats, with_binary_payload
from ..schemas import load_table
from ..session import GEOMETRY_STORE, checkpoint, local_rows_df, spread
from ..sources.ingest import derive_geometry
from ._registry import query
from ._store_cache import MaterializedStoreCache


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _customer_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rectangles keyed on c_custkey (pure int→double
    arithmetic ⇒ bit-identical in Spark and DuckDB)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    xmin = F.lit(-125.0) + (k % 50).cast("double")
    w = F.lit(0.5) + (k % 7).cast("double") * 0.25
    ymin = F.lit(24.0) + (k % 20).cast("double")
    h = F.lit(0.4) + (k % 5).cast("double") * 0.3
    return c.select(
        "c_custkey",
        xmin.alias("xmin"),
        ymin.alias("ymin"),
        (xmin + w).alias("xmax"),
        (ymin + h).alias("ymax"),
    )

_CUST_RECT_SQL = """
      SELECT c_custkey,
             -125.0 + (c_custkey % 50) AS xmin,
             24.0 + (c_custkey % 20)   AS ymin,
             -125.0 + (c_custkey % 50) + 0.5 + (c_custkey % 7) * 0.25 AS xmax,
             24.0 + (c_custkey % 20) + 0.4 + (c_custkey % 5) * 0.3    AS ymax
      FROM customer
"""


def _supplier_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier twin of `_customer_rects`: deterministic rectangles
    keyed on s_suppkey, the probe side of the three supplier-overlap
    joins."""
    k = F.col("s_suppkey")
    xmin = F.lit(-125.0) + (k % 55).cast("double")
    ymin = F.lit(24.0) + (k % 22).cast("double")
    return _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        xmin.alias("xmin"),
        ymin.alias("ymin"),
        (xmin + F.lit(1.0) + (k % 3).cast("double") * 0.5).alias("xmax"),
        (ymin + F.lit(1.0)).alias("ymax"),
    )


# supplier rectangles × customer rectangles (custkey < 200): overlap count
# per supplier — the one oracle of the three supplier-overlap joins
_SUPP_OVERLAP_SQL = f"""
    WITH cr AS ({_CUST_RECT_SQL}),
    sr AS (
      SELECT s_suppkey,
             -125.0 + (s_suppkey % 55) AS xmin,
             24.0 + (s_suppkey % 22)   AS ymin,
             -125.0 + (s_suppkey % 55) + 1.0 + (s_suppkey % 3) * 0.5 AS xmax,
             24.0 + (s_suppkey % 22) + 1.0                           AS ymax
      FROM supplier)
    SELECT s_suppkey, COUNT(*) AS n_overlaps
    FROM sr JOIN cr
      ON cr.xmin <= sr.xmax AND sr.xmin <= cr.xmax
     AND cr.ymin <= sr.ymax AND sr.ymin <= cr.ymax
    WHERE cr.c_custkey < 200
    GROUP BY s_suppkey
    """


_spatial_layers_cache = MaterializedStoreCache()


def _spatial_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic layers store (WKB + derived bbox and rings), built ONCE per
    session and materialized — mirroring production, where ingest (WKB
    encode + bbox/ring derivation) runs once at write time and queries hit the prepared
    store (the reference's load_data.py vs app.py split). Cached via
    MaterializedStoreCache (LRU + session-finalizer eviction)."""

    def _build() -> DataFrame:
        rects = _customer_rects(spark, sf_dir)
        wkb = rects.withColumn(
            "geom_wkb",
            make_box_wkb_udf()(F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")),
        ).select("c_custkey", "geom_wkb")
        # spread before pinning (see geo_analytics._geo_store): a single
        # source file would freeze a 1-2-partition layout into the
        # checkpoint and serialize every downstream scan-side kernel;
        # width sized by store rows so small stores don't pay 32-task
        # scheduling per scan (see session.GEOMETRY_STORE)
        return checkpoint(spread(derive_geometry(wkb)), GEOMETRY_STORE)

    return _spatial_layers_cache.get_or_build(spark, sf_dir, _build)


@query(
    "spatial_point_filter",
    f"""
    WITH r AS ({_CUST_RECT_SQL})
    SELECT c_custkey FROM r
    WHERE xmin <= -100.7 AND -100.7 <= xmax
      AND ymin <=   28.2 AND  28.2 <= ymax
    """,
)
def spatial_point_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O15 (ST_Intersects point-in-polygon) through the full
    engine path: WKB encode → bbox/ring derive → native coarse prune →
    native exact ray-cast refine. For rectangles the refine must agree with the prune,
    which is what makes the arithmetic oracle exact."""
    layers = _spatial_layers(spark, sf_dir)
    lon, lat = -100.7, 28.2
    return (
        layers.where(bbox_contains_point("bbox", lon, lat))
        .where(point_in_rings("geom_rings", lon, lat))
        .select("c_custkey")
    )


@query("spatial_join_overlap", _SUPP_OVERLAP_SQL)
def spatial_join_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial (rectangle-overlap) join — the range-join shape. At scale
    this gets a grid-cell blocking key to become an equi-join; here the
    direct predicate form is the semantics oracle."""
    cr = _customer_rects(spark, sf_dir).where(F.col("c_custkey") < 200)
    sr = _supplier_rects(spark, sf_dir).select(
        "s_suppkey", F.struct("xmin", "ymin", "xmax", "ymax").alias("sbox")
    )
    crb = cr.select(
        "c_custkey",
        F.struct("xmin", "ymin", "xmax", "ymax").alias("cbox"),
    )
    return (
        sr.join(crb, bboxes_overlap(F.col("sbox"), F.col("cbox")))
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )


@query("spatial_join_blocked", _SUPP_OVERLAP_SQL)
def spatial_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB spatial-join path: grid-cell blocking turns the overlap
    predicate into an equi-join on (cell_x, cell_y) — shuffled hash join,
    no BroadcastNestedLoopJoin (operators/spatial_join.py). The oracle is
    the DIRECT inequality join: same answer, so the check proves the
    blocked construction's exactness, not just its plan shape."""
    from ..operators.spatial_join import grid_blocked_overlap_join

    sr = _supplier_rects(spark, sf_dir)
    cr = _customer_rects(spark, sf_dir).where(F.col("c_custkey") < 200)
    return (
        grid_blocked_overlap_join(sr, cr, cell=2.0)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )


@query("spatial_join_exact", _SUPP_OVERLAP_SQL)
def spatial_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General `ST_Intersects(polyA, polyB)` join — the full PostGIS-parity
    filter-and-refine: grid-cell blocked bbox equi-join (coarse, native),
    then an exact polygon×polygon refine over BOTH WKB columns (edge-
    segment intersection + even-odd containment, touch-inclusive —
    functions/spatial.py:polygons_intersect; reference backend/models.py
    only ever issues the point form, so this closes the one areal
    capability the engine previously approximated with bbox overlap).

    Graded on the rectangle stores, where bbox-overlap ∧ polygon-intersect
    are provably equal — the arithmetic inequality-join oracle is exact;
    the non-convex / hole / bbox-overlaps-but-polygons-don't cases are
    covered by tests/test_spatial_join.py fixtures. The refine UDF runs
    strictly AFTER the blocked join (candidate pairs only), so its cost
    scales with join selectivity, not the cross product."""
    from ..operators.spatial_join import grid_blocked_overlap_join

    sr = _supplier_rects(spark, sf_dir).withColumn(
        "geom_wkb",
        make_box_wkb_udf()(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")
        ),
    )
    # customer side comes from the prepared WKB store (ingest-time encode)
    layers = _spatial_layers(spark, sf_dir).where(F.col("c_custkey") < 200)
    cr = layers.select(
        "c_custkey",
        F.col("bbox.xmin").alias("xmin"),
        F.col("bbox.ymin").alias("ymin"),
        F.col("bbox.xmax").alias("xmax"),
        F.col("bbox.ymax").alias("ymax"),
        "geom_wkb",
    )
    return (
        grid_blocked_overlap_join(sr, cr, cell=2.0)
        .where(
            make_polys_intersect_udf()(
                F.col("geom_wkb"), F.col("geom_wkb_r")
            )
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )


@query(
    "spatial_join_hot_cell",
    """
    WITH r AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 20 = 0 THEN (c_custkey % 13) * 0.125
                  ELSE ((c_custkey * 7) % 101) * 0.5 END AS xmin,
             CASE WHEN c_custkey % 20 = 0 THEN (c_custkey % 11) * 0.125
                  ELSE ((c_custkey * 11) % 97) * 0.5 END AS ymin,
             0.5 + (c_custkey % 3) * 0.25 AS side
      FROM customer),
    b AS (
      SELECT k, xmin, ymin, xmin + side AS xmax, ymin + side AS ymax FROM r)
    SELECT a.k AS c_custkey, COUNT(*) AS n_overlaps
    FROM b a JOIN b b2
      ON a.k < b2.k
     AND a.xmin <= b2.xmax AND b2.xmin <= a.xmax
     AND a.ymin <= b2.ymax AND b2.ymin <= a.ymax
    GROUP BY a.k
    """,
)
def spatial_join_hot_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKEWED spatial join, graded: every 20th customer rect drops
    into the single grid cell at the origin (the dense-urban-cell regime
    of SCALING.md runs 7/9) while the rest spread uniformly, then the
    full blocked-join + exact-polygon-refine pipeline runs the self-join
    overlap count. Grades the blocking machinery exactly where skew
    stresses it: one cell key carries a quadratic candidate block, rects
    span cells, and the canonical-cell predicate must still emit each
    pair exactly once. The oracle is the direct inequality self-join.

    Scale story: the hot cell's candidate block is the join's true output
    in a dense region (run 7: 33-36% of its candidates are genuine
    overlaps), so the engine-side mitigation is parallelization — AQE
    skew-join splitting, MEASURED in SCALING.md run 9 (split fires, 2
    skewed AQEShuffleReads, 5.3x wall on the 20x hot-cell rehearsal with
    bit-identical output). Here the hot block stays small enough
    (5% of customers) that the graded gate runs it unsplit."""
    from ..operators.spatial_join import grid_blocked_overlap_join

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    hot = (k % 20) == 0
    # all constants are binary-exact (0.125/0.25/0.5 multiples): DuckDB
    # evaluates fractional literals in exact DECIMAL while Spark uses
    # double, so a non-representable constant (0.1) makes exact-touch
    # pairs diverge between the engines (found by the first gate run of
    # this entry: 8 touch pairs on key 0 existed only in decimal)
    xmin = F.when(hot, (k % 13).cast("double") * 0.125).otherwise(
        ((k * 7) % 101).cast("double") * 0.5
    )
    ymin = F.when(hot, (k % 11).cast("double") * 0.125).otherwise(
        ((k * 11) % 97).cast("double") * 0.5
    )
    side = F.lit(0.5) + (k % 3).cast("double") * 0.25
    rects = c.select(
        k.alias("k"),
        xmin.alias("xmin"),
        ymin.alias("ymin"),
        (xmin + side).alias("xmax"),
        (ymin + side).alias("ymax"),
    ).withColumn(
        "geom_wkb",
        make_box_wkb_udf()(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")
        ),
    )
    return (
        grid_blocked_overlap_join(rects, rects, cell=2.0)
        .where(F.col("k") < F.col("k_r"))
        .where(
            make_polys_intersect_udf()(F.col("geom_wkb"), F.col("geom_wkb_r"))
        )
        .groupBy(F.col("k").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )


@query(
    "reproject_mercator",
    """
    SELECT c_custkey,
           ROUND(6378137.0 * radians(-125.0 + (c_custkey % 59)), 2) AS merc_x,
           ROUND(6378137.0 * ln(tan(pi() / 4.0 + radians(24.0 + (c_custkey % 25)) / 2.0)), 2) AS merc_y
    FROM customer
    """,
)
def reproject_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-wise CRS reprojection (reference backend/models.py:37-42
    generalized): EPSG:4326 → 3857 via the vectorized web-mercator UDF."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(-125.0) + (k % 59).cast("double")).alias("lon")
    lat = (F.lit(24.0) + (k % 25).cast("double")).alias("lat")
    pts = c.select("c_custkey", lon, lat)
    ux, uy = make_reproject_udf(4326, 3857)
    return pts.select(
        "c_custkey",
        F.round(ux(F.col("lon"), F.col("lat")), 2).alias("merc_x"),
        F.round(uy(F.col("lon"), F.col("lat")), 2).alias("merc_y"),
    )


@query(
    "html_to_markdown",
    """
    SELECT p_partkey,
           '**' || p_name || '** brand ' || p_brand AS md
    FROM part
    """,
)
def html_to_markdown_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O25 (mcp.py markdownify) as a column operator: build an
    HTML string natively, convert with the Arrow-batched UDF; the oracle
    states the expected markdown directly."""
    p = _t(spark, sf_dir, "part")
    html = F.concat(
        F.lit("<p><b>"), F.col("p_name"), F.lit("</b> brand "), F.col("p_brand"), F.lit("</p>")
    )
    return p.select(
        "p_partkey",
        html_to_markdown_udf()(html).alias("md"),
    )


@query(
    "multimodal_byte_stats",
    """
    SELECT doc_id,
           octet_length(encode(text))::BIGINT AS n_bytes,
           ascii(text)::BIGINT AS first_byte,
           (octet_length(encode(text)) % 640)::BIGINT AS width,
           ((octet_length(encode(text)) * 7) % 480)::BIGINT AS height
    FROM documents
    """,
)
def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + mapInPandas feature
    extraction (deterministic fake decode; real decoder is a stubbed seam,
    operators/multimodal.decode_image)."""
    d = _t(spark, sf_dir, "documents")
    return extract_byte_stats(with_binary_payload(d))


@query(
    "multimodal_resize",
    """
    WITH s AS (
      SELECT doc_id,
             GREATEST(octet_length(encode(text)) % 640, 1) AS width,
             GREATEST((octet_length(encode(text)) * 7) % 480, 1) AS height
      FROM documents)
    SELECT doc_id, width::BIGINT AS width, height::BIGINT AS height,
           GREATEST(CAST(FLOOR(width * LEAST(64.0 / GREATEST(width, height), 1.0)) AS BIGINT), 1) AS thumb_w,
           GREATEST(CAST(FLOOR(height * LEAST(64.0 / GREATEST(width, height), 1.0)) AS BIGINT), 1) AS thumb_h
    FROM s
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving thumbnail math over the fake-decoded dimensions
    (operators/multimodal.resize_thumbnails): two chained mapInPandas
    stages — exactly the plumbing a real pixel-rescale kernel rides; the
    arithmetic stand-in keeps the whole pipeline oracle-checkable."""
    from ..operators.multimodal import resize_thumbnails

    d = _t(spark, sf_dir, "documents")
    return resize_thumbnails(extract_byte_stats(with_binary_payload(d)), max_side=64)


@query(
    "multimodal_frame_sample",
    """
    SELECT doc_id,
           i AS frame_idx,
           i * 100 AS frame_offset
    FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
         (SELECT unnest(range(0, 8)) AS i) ix
    WHERE i * 100 < n
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-stride frame sampling over binary "video" payloads
    (operators/multimodal.sample_frames): the 1→N mapInPandas fan-out shape
    of keyframe extraction, capped at 8 frames per asset."""
    from ..operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents")
    return sample_frames(with_binary_payload(d), every_n_bytes=100, max_frames=8)


@query(
    "spatial_knn_rect_centroids",
    f"""
    WITH cr AS ({_CUST_RECT_SQL}),
    cent AS (
      SELECT c_custkey, (xmin + xmax) / 2.0 AS cx, (ymin + ymax) / 2.0 AS cy
      FROM cr),
    probes AS (
      SELECT * FROM (VALUES (1, -100.0, 30.0), (2, -90.5, 38.2),
                            (3, -110.25, 42.0), (4, -80.0, 26.5),
                            (5, -120.0, 45.0)) AS p(probe_id, px, py))
    SELECT probe_id, c_custkey,
           ROUND(sqrt((cx - px) * (cx - px) + (cy - py) * (cy - py)), 4) AS dist
    FROM probes, cent
    WHERE sqrt((cx - px) * (cx - px) + (cy - py) * (cy - py)) <= 10.0
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY probe_id
        ORDER BY sqrt((cx - px) * (cx - px) + (cy - py) * (cy - py)), c_custkey) <= 3
    """,
)
def spatial_knn_rect_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial KNN — nearest-3 geometries per probe point by centroid
    distance, RADIUS-BOUNDED: candidates beyond 10° are filtered before
    the per-probe window (the 'near me within R' query). The guard is in
    BOTH engines' queries, so the hash contract holds by construction;
    the radius is sized so every probe keeps far more than k candidates
    (the centroid lattice spans every ~1° cell of the extent), making the
    result identical to unbounded KNN here. Centroids derive from the
    deterministic key→rect arithmetic and IEEE sqrt is correctly rounded,
    so the oracle is exact.

    Scale shape: probes broadcast against one scan of the geometry store,
    and the radius guard — a plain Filter BEFORE the Window, asserted in
    tests — is the predicate that maps onto bbox min/max row-group
    pruning on the Z-order-sorted store (sources/ingest) at 100 TB: most
    row groups never reach the distance math, and the window's shuffle
    carries only in-radius rows."""
    rects = _customer_rects(spark, sf_dir)
    cent = rects.select(
        "c_custkey",
        ((F.col("xmin") + F.col("xmax")) / 2.0).alias("cx"),
        ((F.col("ymin") + F.col("ymax")) / 2.0).alias("cy"),
    )
    probes = local_rows_df(
        spark,
        [(1, -100.0, 30.0), (2, -90.5, 38.2), (3, -110.25, 42.0),
         (4, -80.0, 26.5), (5, -120.0, 45.0)],
        "probe_id: long, px: double, py: double",
    )
    d = (
        cent.crossJoin(F.broadcast(probes))
        .withColumn(
            "dist",
            F.sqrt(
                (F.col("cx") - F.col("px")) * (F.col("cx") - F.col("px"))
                + (F.col("cy") - F.col("py")) * (F.col("cy") - F.col("py"))
            ),
        )
        .where(F.col("dist") <= 10.0)
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("dist").asc(), F.col("c_custkey").asc()
    )
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 3)
        .select("probe_id", "c_custkey", F.round("dist", 4).alias("dist"))
    )


@query(
    "multimodal_audio_windows",
    """
    WITH c AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
                            j -> ascii(text[j:j])) AS codes
      FROM documents),
    w AS (
      SELECT doc_id, codes,
             unnest(range(0, CAST(ceil(len(codes) / 256.0) AS BIGINT))) AS window_idx
      FROM c)
    SELECT doc_id, window_idx,
           CAST(len(codes[window_idx * 256 + 1 : window_idx * 256 + 256]) AS BIGINT)
             AS n_samples,
           CAST(list_sum(codes[window_idx * 256 + 1 : window_idx * 256 + 256]) AS BIGINT)
             AS sum_amp,
           CAST(list_max(codes[window_idx * 256 + 1 : window_idx * 256 + 256]) AS BIGINT)
             AS peak
    FROM w
    """,
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-branch multimodal plumbing: per-window sample statistics
    (sum amplitude, peak) over binary payloads via mapInPandas — one
    input row fans out to ⌈n/256⌉ window rows, the VAD/loudness shape.
    Payload bytes stand in for PCM (ASCII text ⇒ byte == code point, which
    is what lets DuckDB recompute the windows with ascii() and keeps every
    aggregate an exact integer). Map-only: the fan-out happens inside the
    Arrow batch, no shuffle anywhere."""
    from ..operators.multimodal import audio_window_stats, with_binary_payload

    d = _t(spark, sf_dir, "documents")
    return audio_window_stats(with_binary_payload(d), window=256)


@query(
    "spatial_grid_density",
    f"""
    WITH r AS ({_CUST_RECT_SQL})
    SELECT CAST(FLOOR((r.xmin + r.xmax) / 2.0) AS BIGINT) AS cell_x,
           CAST(FLOOR((r.ymin + r.ymax) / 2.0) AS BIGINT) AS cell_y,
           COUNT(*) AS n_geoms,
           ROUND(SUM(c.c_acctbal), 2) AS sum_bal
    FROM r JOIN customer c ON r.c_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def spatial_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-grid (heat-map) aggregation over the SPATIAL STORE: bucket
    each geometry's bbox centroid into 1°×1° cells and aggregate joined
    attributes — the tile/choropleth precomputation a GIS service layers
    over the reference's search (and the first reduction step of any
    spatial statistics job).

    The centroid comes from the bbox DERIVED FROM WKB, so the entry
    grades the encode→decode→bbox round-trip against the oracle's direct
    rectangle arithmetic (float64 survives WKB exactly; both engines then
    floor the identical double, so the cell cut is deterministic even on
    cell boundaries). Scale shape: map-side cell assignment → one
    map-combined aggregate on the cell key; the attribute join broadcasts
    the dimension. Cells are bounded by the extent, not the data."""
    layers = _spatial_layers(spark, sf_dir)
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    cx = (F.col("bbox.xmin") + F.col("bbox.xmax")) / 2.0
    cy = (F.col("bbox.ymin") + F.col("bbox.ymax")) / 2.0
    return (
        layers.join(F.broadcast(c), "c_custkey")
        .groupBy(
            F.floor(cx).cast("long").alias("cell_x"),
            F.floor(cy).cast("long").alias("cell_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_geoms"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@query(
    "spatial_nn_join_ring",
    """
    WITH f AS (
      SELECT c_custkey,
             (c_custkey % 50) * 8 + (c_custkey % 7) AS fx,
             (c_custkey % 20) * 8 + (c_custkey % 5) AS fy
      FROM customer WHERE c_custkey % 10 = 1),
    p AS (
      SELECT p_partkey,
             (p_partkey * 13) % 401 AS px,
             (p_partkey * 29) % 161 AS py
      FROM part)
    SELECT p_partkey, c_custkey AS nearest_custkey, dsq,
           sqrt(CAST(dsq AS DOUBLE)) / 8.0 AS dist_deg
    FROM (
      SELECT p.p_partkey, f.c_custkey,
             (px - fx) * (px - fx) + (py - fy) * (py - fy) AS dsq,
             ROW_NUMBER() OVER (
               PARTITION BY p.p_partkey
               ORDER BY (px - fx) * (px - fx) + (py - fy) * (py - fy),
                        f.c_custkey) AS rn
      FROM p CROSS JOIN f)
    WHERE rn = 1
    """,
)
def spatial_nn_join_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor spatial JOIN — every point gets its single nearest
    facility (the 'nearest store / nearest hospital' join; PostGIS `<->`
    KNN operator applied as a lateral join, reference parity: the GiST
    distance-ordered scan a PostGIS user runs per row). Unlike
    spatial_knn_rect_centroids (5 probe points), this joins the WHOLE
    point table, so the all-pairs form the oracle uses is exactly what
    the engine must avoid.

    Mechanism (exact, never all-pairs): points and facilities live on an
    integer 1/8-degree lattice (pure int64 arithmetic end-to-end — the
    argmin and its custkey tie-break are decided in exact integers, so no
    cross-engine float divergence class applies; `dist_deg` =
    sqrt(int)/8 is bit-identical, IEEE sqrt being correctly rounded).
    Facilities are exploded to their 3x3 neighborhood of 32-unit
    (4-degree) grid cells and broadcast; points equi-join their own cell,
    giving ring candidates only. A ring winner with dsq <= 1088 is
    PROVABLY the global argmin: any facility outside the 3x3 ring differs
    by >= 2 cells in some axis, so Chebyshev distance >= 33 and
    dsq >= 1089 — it can neither beat nor tie the kept winner. Points
    with no ring candidate (or a winner beyond the guarantee) fall back
    to a broadcast argmin over the full facility table — exact, and at
    production facility density the residual set is the sparse-frontier
    tail (at sf0.01 it is empty; at sf0.001's 15 facilities most points
    take it, which is the honest low-density regime). 100 TB shape: the
    candidate join is cell-equi (shuffle-free on the point side when the
    store is cell-bucketed), the facility ring table is a broadcast dim,
    and the per-point argmin is a map-combined min(struct) — no window,
    no all-pairs anywhere; denser facility tables shrink the cell size,
    larger ones swap the broadcast for the same join bucketed by cell —
    that swap is CODE since r14: `operators.spatial_join.
    cell_bucketed_ring_join` writes both sides bucketed by (cellx,
    celly) and joins with no Exchange on either side (plan + row
    equality pinned in tests/test_r14_catalog.py).

    Since r16 the whole reduction — ring argmin AND the sparse-frontier
    full re-rank (the former residual branch) — runs inside ONE
    vectorized mapInPandas kernel closing over the driver-collected
    position table (`_ring_bottomk_map` with k = 1; exactness and tier
    semantics in its docstring — the k = 5 sibling shares the kernel).
    The former shape (broadcast ring join + left-join sentinel +
    min(struct) exchange + localCheckpoint barrier + guarantee split +
    residual crossJoin) is gone: points stream through map-only, the
    position table ships once per executor — the same broadcast-dim
    size class as before."""
    kout = _ring_knn(spark, sf_dir, 1)
    return kout.where(F.col("d0") >= 0).select(
        "p_partkey",
        F.col("k0").alias("nearest_custkey"),
        F.col("d0").alias("dsq"),
        (F.sqrt(F.col("d0").cast("double")) / 8.0).alias("dist_deg"),
    )


def _ring_knn(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The ring-kNN reduction both ring entries share: per part point,
    its exact bottom-``k`` (dsq, custkey) pairs over the facilities as
    flat columns (p_partkey, d0, k0, …, d{k-1}, k{k-1}), -1 where fewer
    than ``k`` facilities exist. One `_ring_bottomk_map` mapInPandas
    pass over the point side, closing over the driver-collected facility
    position table."""
    ck = F.col("c_custkey")
    # Per-position bottom-k custkeys kept AS AN ARRAY: a LOSSLESS
    # pre-aggregation for top-k by (dsq, custkey). Co-located facilities
    # all tie on dsq, so the global top-k holds at most k keys of any one
    # position, and the tie-break forces them to be that position's k
    # smallest custkeys (k = 1: the per-position min custkey). The key
    # lattice has <= lcm(50,7,20,5) = 700 distinct positions, so this
    # bounds the position table and the kernel's candidate columns by
    # k × the position vocabulary, not the facility row count — the same
    # pre-merge lever as dissolve's merge_runs (SCALING run 17's
    # co-located-replica argument).
    f = (
        _t(spark, sf_dir, "customer")
        .where(ck % 10 == 1)
        .select(
            "c_custkey",
            ((ck % 50) * 8 + (ck % 7)).cast("long").alias("fx"),
            ((ck % 20) * 8 + (ck % 5)).cast("long").alias("fy"),
        )
        .groupBy("fx", "fy")
        .agg(
            F.slice(F.array_sort(F.collect_list("c_custkey")), 1, k).alias(
                "keys"
            )
        )
    )
    pk = F.col("p_partkey")
    # spread (guide §2.5): keeps the kernel pass parallel over the
    # single-file part scan. No-op at scale where the point table carries
    # many splits.
    p = spread(_t(spark, sf_dir, "part")).select(
        "p_partkey",
        ((pk * 13) % 401).cast("long").alias("px"),
        ((pk * 29) % 161).cast("long").alias("py"),
    )
    # The WHOLE per-point reduction is ONE vectorized mapInPandas pass
    # closing over the driver-collected position table (the same
    # k-row-collect pattern as the IVF seeds; the table is the entry's
    # broadcast-dim size class). Ring tier + full-scan tier: see
    # _ring_bottomk_map.
    fac_pos = [(r["fx"], r["fy"], list(r["keys"])) for r in f.collect()]
    kern = _ring_bottomk_map(fac_pos, k=k, cell=32, guarantee=1088)
    kcols = ", ".join(f"d{j} long, k{j} long" for j in range(k))
    return p.mapInPandas(kern, f"p_partkey long, {kcols}")


# Most facility keys `_ring_bottomk_map` may close over. The table is
# collected to the driver and pickled into the kernel, so it ships with
# every task; a larger table belongs in a cell-bucketed join
# (operators.spatial_join.cell_bucketed_ring_join). The ring entries' key
# lattice has <= 700 positions x k <= 5 keys each.
RING_TABLE_MAX_KEYS = 1 << 16


def _ring_bottomk_map(
    fac_pos: list, k: int = 5, cell: int = 32, guarantee: int = 1088
):
    """mapInPandas kernel for the whole ring-kNN reduction (r16, guide
    §4.1/§2.4): per point, the EXACT bottom-k (dsq, custkey) pairs over
    the facility keys, computed vectorized in int64 from a
    driver-collected facility position table closed over by the kernel.

    Two tiers, mirroring the former two-branch plan exactly:

    * RING tier — candidates from the point's 3×3 ring of ``cell``-unit
      cells, evaluated as one (points × ring keys) distance matrix per
      cell group. If the k-th ring candidate has dsq ≤ ``guarantee``
      (33² − 1: any facility outside the ring is at dsq ≥ 33²), the
      five are globally correct — done.
    * FULL tier — the sparse-frontier fallback the residual branch used
      to compute via crossJoin + collect_list: points whose ring list
      is short or un-guaranteed re-rank against ALL positions, as a
      row-chunked (points × all keys) matrix in the same pass. The
      per-position bottom-k key dedup keeps the column count bounded by
      k × position vocabulary, the same losslessness argument as
      before.

    Replaces: the broadcast candidate join that fanned every point out
    to ~160 candidate rows, the exchange that re-grouped them
    (p_partkey is unique — the rows were never apart; ~3.2M structs at
    sf0.1), the interpreted array_sort k-lists, the checkpoint barrier,
    the guarantee split, the residual BroadcastNestedLoopJoin (54% of
    points at sf0.1 — the measured dominant cost), and the union.

    Exactness: every quantity is int64 (coordinates are mod-401/161
    lattice values, so dsq < 2^18); the bottom-k order is the single
    integer key ``dsq·2^44 + custkey`` — exactly the (dsq, custkey)
    lexicographic tie-break, valid while 1 <= custkey < 2^44 (both
    asserted; ~10^13, far above any TPC-H scale). -1 sentinels mark missing
    candidates (fewer facilities than k).

    Scale shape: the facility position table is the entry's existing
    broadcast-dim assumption (it was already shipped to every executor
    as a broadcast relation); closing over it moves the same bytes once
    per executor. Points stream through in Arrow batches; the full-tier
    matrix is chunked to ≤8M int64 elements — constant memory, no
    shuffle, no per-candidate row ever materialized."""
    import numpy as np

    from collections import defaultdict

    n_keys = sum(len(keys) for _, _, keys in fac_pos)
    assert n_keys <= RING_TABLE_MAX_KEYS, (
        f"facility table of {n_keys} keys exceeds RING_TABLE_MAX_KEYS"
    )
    by_cell: dict = defaultdict(list)
    fkx: list = []
    fky: list = []
    fkk: list = []
    for fx, fy, keys in fac_pos:
        by_cell[(fx // cell, fy // cell)].append((fx, fy, keys))
        for key in keys:
            fkx.append(fx)
            fky.append(fy)
            fkk.append(key)
    full = (
        (
            np.asarray(fkx, dtype=np.int64),
            np.asarray(fky, dtype=np.int64),
            np.asarray(fkk, dtype=np.int64),
        )
        if fkk
        else None
    )
    if full is not None:
        assert int(full[2].max()) < (1 << 44), "custkey outgrew the enc"
        # a key <= 0 would collide with the -1 missing-candidate sentinel
        # and break the dsq·2^44 + custkey order
        assert int(full[2].min()) >= 1, "custkey must be >= 1"
    cache: dict = {}

    def _ring_arrays(cxy):
        if cxy in cache:
            return cache[cxy]
        kx: list = []
        ky: list = []
        kk: list = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for fx, fy, keys in by_cell.get(
                    (cxy[0] + dx, cxy[1] + dy), ()
                ):
                    for key in keys:
                        kx.append(fx)
                        ky.append(fy)
                        kk.append(key)
        arrs = (
            (
                np.asarray(kx, dtype=np.int64),
                np.asarray(ky, dtype=np.int64),
                np.asarray(kk, dtype=np.int64),
            )
            if kk
            else None
        )
        cache[cxy] = arrs
        return arrs

    def _bottomk(px, py, arrs, out_d, out_k, idx):
        kx, ky, kk = arrs
        dx = px[idx][:, None] - kx[None, :]
        dy = py[idx][:, None] - ky[None, :]
        enc = ((dx * dx + dy * dy) << 44) | kk[None, :]
        m = enc.shape[1]
        if m > k:
            part = np.argpartition(enc, k - 1, axis=1)[:, :k]
            sel = np.take_along_axis(enc, part, axis=1)
            top = np.take_along_axis(sel, np.argsort(sel, axis=1), axis=1)
        else:
            top = np.sort(enc, axis=1)
        out_d[idx, : top.shape[1]] = top >> 44
        out_k[idx, : top.shape[1]] = top & ((1 << 44) - 1)

    def _fn(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            px = pdf["px"].to_numpy(np.int64)
            py = pdf["py"].to_numpy(np.int64)
            out_d = np.full((n, k), -1, dtype=np.int64)
            out_k = np.full((n, k), -1, dtype=np.int64)
            if full is not None:
                cells = np.stack([px // cell, py // cell], axis=1)
                uniq, inv = np.unique(cells, axis=0, return_inverse=True)
                for g in range(len(uniq)):
                    arrs = _ring_arrays((int(uniq[g][0]), int(uniq[g][1])))
                    if arrs is None:
                        continue
                    _bottomk(px, py, arrs, out_d, out_k, np.nonzero(inv == g)[0])
                # full tier: short or un-guaranteed ring lists
                need = np.nonzero(
                    (out_d[:, k - 1] < 0) | (out_d[:, k - 1] > guarantee)
                )[0]
                if len(need):
                    chunk = max(1, (8 << 20) // max(1, len(full[2])))
                    for s in range(0, len(need), chunk):
                        _bottomk(
                            px, py, full, out_d, out_k, need[s : s + chunk]
                        )
            cols = {"p_partkey": pdf["p_partkey"]}
            for j in range(k):
                cols[f"d{j}"] = out_d[:, j]
                cols[f"k{j}"] = out_k[:, j]
            yield pd.DataFrame(cols)

    return _fn


@query(
    "spatial_knn_join_ring",
    """
    WITH f AS (
      SELECT c_custkey,
             (c_custkey % 50) * 8 + (c_custkey % 7) AS fx,
             (c_custkey % 20) * 8 + (c_custkey % 5) AS fy
      FROM customer WHERE c_custkey % 10 = 1),
    p AS (
      SELECT p_partkey,
             (p_partkey * 13) % 401 AS px,
             (p_partkey * 29) % 161 AS py
      FROM part)
    SELECT p_partkey, rn AS nn_rank, c_custkey AS nn_custkey, dsq,
           sqrt(CAST(dsq AS DOUBLE)) / 8.0 AS dist_deg
    FROM (
      SELECT p.p_partkey, f.c_custkey,
             (px - fx) * (px - fx) + (py - fy) * (py - fy) AS dsq,
             ROW_NUMBER() OVER (
               PARTITION BY p.p_partkey
               ORDER BY (px - fx) * (px - fx) + (py - fy) * (py - fy),
                        f.c_custkey) AS rn
      FROM p CROSS JOIN f)
    WHERE rn <= 5
    """,
)
def spatial_knn_join_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NEAREST-neighbor spatial JOIN (k = 5) — every point gets its
    five nearest facilities, distance-ordered: the PostGIS
    `ORDER BY geom <-> point LIMIT k` lateral applied to a whole table
    (reference parity: models.py:189's distance-ordered scan, the form
    GIS users actually run; VERDICT r12 #3's generalization of
    `spatial_nn_join_ring` from argmin to top-k).

    Exact int64 lattice end-to-end (same facility/point derivations as
    the k=1 entry, so the two entries cross-check each other: this
    entry's rank-1 rows ARE the k=1 answer). The three k-generalizations:

    * Position-dedup keeps the FIVE smallest custkeys per position (not
      one) — still lossless: the global top-5 by (dsq, custkey) contains
      at most 5 entries of any one position, and the tie-break forces
      them to be that position's 5 smallest custkeys. Bounds the
      broadcast ring table by 5 × position vocabulary.
    * The ring guarantee moves to the K-TH distance: any facility
      outside the 3×3 ring of 32-unit cells has dsq ≥ 33² = 1089, so IF
      a point holds 5 ring candidates with dsq₅ ≤ 1088, all five are
      globally correct (an outside facility can neither beat nor tie
      any of them). Fewer than 5 candidates, or dsq₅ > 1088 → the
      full-scan tier.
    * The per-point reduction is a bounded bottom-k, NOT a window: ring
      candidates per point are capped by 5 × positions-per-ring (the
      density bound that is the design's point), and the (dsq, custkey)
      lexicographic tie-break is the single integer sort key
      dsq·2^44 + custkey. No global sort, no window shuffle, no
      all-pairs anywhere engine-side (the quadratic lives only in the
      oracle's CROSS JOIN).

    Since r16 the whole reduction — ring tier AND the sparse-frontier
    full re-rank (the former residual branch, which 54% of sf0.1 points
    took and which dominated the entry's wall time) — runs inside ONE
    vectorized mapInPandas kernel closing over the driver-collected
    position table (`_ring_bottomk_map`; exactness and tier semantics
    in its docstring). 100 TB shape: the position table is the entry's
    existing broadcast-dim assumption shipped once per executor; points
    stream through map-only, so the point side is shuffle-free
    unconditionally (the cell-bucketed join remains the swap for
    facility dims that outgrow the closure —
    `operators.spatial_join.cell_bucketed_ring_join`, code since
    r14)."""
    kout = _ring_knn(spark, sf_dir, 5)
    # rebuild the bounded k-list from the kernel's flat columns (-1
    # sentinels = missing candidates with fewer facilities than k,
    # filtered out before the rank explode).
    b_arr = F.filter(
        F.array(
            *[
                F.struct(
                    F.col(f"d{j}").alias("dsq"),
                    F.col(f"k{j}").alias("c_custkey"),
                )
                for j in range(5)
            ]
        ),
        lambda x: x["dsq"] >= 0,
    ).alias("b")
    return (
        kout.select("p_partkey", b_arr)
        .select("p_partkey", F.posexplode("b").alias("pos", "cand"))
        .select(
            "p_partkey",
            (F.col("pos") + 1).alias("nn_rank"),
            F.col("cand.c_custkey").alias("nn_custkey"),
            F.col("cand.dsq").alias("dsq"),
            (
                F.sqrt(F.col("cand.dsq").cast("double")) / 8.0
            ).alias("dist_deg"),
        )
    )
