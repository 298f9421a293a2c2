"""The flagship query plan builder — the engine's `build_query` analogue.

The reference assembles one parameterized SQL string (reference
backend/models.py:114-193, shape at :186-191):

    SELECT <6 text fields> FROM layers
    [WHERE LOWER(type) = ANY($types)] [AND ST_Intersects(geom, point)]
    ORDER BY embeddings <=> $qvec  LIMIT k OFFSET s

Here the same logical plan is declared on a DataFrame and Catalyst picks
the physical strategy. Filter ordering is the engine's one hand-written
physical convention (SURVEY.md §4.3.1): the bbox prune runs BEFORE the
exact ray cast, so the ray cast sees only bbox survivors and Parquet
row-group stats can skip whole files. Both are native expressions (the ray
cast reads the ingest-derived ``geom_rings``), the query vector is one
literal, and paging is ``limit + offset``, so a request is one JVM-only job
with one stage whose build cost does not depend on the embedding width.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.spatial import (
    bbox_contains_point,
    point_in_rings,
    reproject_point,
    validate_lonlat,
)
from ..functions.vector import cosine_distance
from ..operators.topk import top_k
from ..schemas import TEXT_FIELDS

MIN_LIMIT, MAX_LIMIT, DEFAULT_LIMIT = 1, 10, 5  # reference backend/models.py:23-25


@dataclass
class SearchRequest:
    """Engine-level request (API layer validates + coerces into this).

    Mirrors SemanticSearchRequest semantics (reference backend/
    models.py:78-102): limit clamped to [1,10], skip ≥ 0, point normalized
    to EPSG:4326.
    """

    query_vec: list[float]
    type_filter: list[str] | None = None
    point: tuple[float, float] | None = None  # (lon, lat) any CRS
    epsg: int = 4326
    skip: int = 0
    limit: int = DEFAULT_LIMIT
    extra_predicates: list[Column] = field(default_factory=list)

    def __post_init__(self) -> None:
        if not (MIN_LIMIT <= self.limit <= MAX_LIMIT):
            raise ValueError(f"limit must be in [{MIN_LIMIT}, {MAX_LIMIT}]")
        if self.skip < 0:
            raise ValueError("skip must be >= 0")
        if self.point is not None:
            lon, lat = reproject_point(*self.point, self.epsg, 4326)
            validate_lonlat(lon, lat)
            self.point = (lon, lat)
            self.epsg = 4326


def build_search_plan(
    layers: DataFrame,
    request: SearchRequest,
    *,
    normalized: bool = True,
    include_dist: bool = True,
) -> DataFrame:
    """Compose O14–O19 into the flagship plan (SURVEY.md §2.2)."""
    df = layers

    # O14: case-insensitive type IN-list (reference backend/models.py:159-164)
    if request.type_filter:
        lowered = [t.lower() for t in request.type_filter]
        df = df.where(F.lower(F.col("type")).isin(lowered))

    # O15: spatial filter — coarse bbox prune, then exact ray-cast refine
    if request.point is not None:
        lon, lat = request.point
        df = df.where(
            bbox_contains_point("bbox", lon, lat) & point_in_rings("geom_rings", lon, lat)
        )

    # O17: exact cosine distance ranking
    dist = cosine_distance("embeddings", request.query_vec, normalized=normalized)
    df = df.withColumn("dist", dist)
    for pred in request.extra_predicates:
        df = df.where(pred)

    # O18: deterministic top-k + offset (id tie-break)
    order = [F.col("dist").asc(), F.col("id").asc()]
    df = top_k(df, order, k=request.limit, skip=request.skip)

    # O19: client projection — never returns embeddings/geom
    out_cols = [*TEXT_FIELDS] + (["dist"] if include_dist else [])
    return df.select(*out_cols)
