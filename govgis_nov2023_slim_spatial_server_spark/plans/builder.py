"""The flagship query plan builder — the engine's `build_query` analogue.

The reference assembles one parameterized SQL string (reference
backend/models.py:114-193, shape at :186-191):

    SELECT <6 text fields> FROM layers
    [WHERE LOWER(type) = ANY($types)] [AND ST_Intersects(geom, point)]
    ORDER BY embeddings <=> $qvec  LIMIT k OFFSET s

Here, too, a request is one SQL statement with named parameters over a
temp view of ``layers``: the query vector is bound as ``:q`` (one array
literal) and each lowered type string as its own ``:t<i>``, so no user
string enters the SQL text. Only validated numbers do: the point
coordinates (written back to the same bits) and the limit and offset.
One statement is one parse and one analysis, and a build makes ~10 Py4J
calls (one more per type string) at any embedding width, where a chain of
DataFrame steps made one analysis per step and ~270 calls.

Filter ordering is the engine's one hand-written physical convention
(SURVEY.md §4.3.1): the bbox prune runs BEFORE the exact ray cast, so the
ray cast sees only bbox survivors and Parquet row-group stats can skip
whole files. Both are native expressions (the ray cast reads the
ingest-derived ``geom_rings``), and paging is ``LIMIT n OFFSET m``, so a
request is one JVM-only job with one stage: a filtered scan under one
``TakeOrderedAndProject(limit, offset)``.
"""

from __future__ import annotations

import uuid
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..functions.spatial import (
    bbox_contains_point_sql,
    point_in_rings_sql,
    reproject_point,
    validate_lonlat,
)
from ..functions.vector import _as_col, dot_sql
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


# layers DataFrame -> the temp view its statements read. A view is
# registered once per DataFrame, not per request: registering one is an
# eagerly executed command.
_VIEWS: weakref.WeakKeyDictionary[DataFrame, str] = weakref.WeakKeyDictionary()


def _view(layers: DataFrame) -> str:
    name = _VIEWS.get(layers)
    if name is None:
        name = f"_search_layers_{uuid.uuid4().hex}"
        layers.createOrReplaceTempView(name)
        _VIEWS[layers] = name
    return name


def build_search_plan(
    layers: DataFrame,
    request: SearchRequest,
    *,
    include_dist: bool = True,
) -> DataFrame:
    """Compose O14–O19 into the flagship plan (SURVEY.md §2.2) as one
    parameterized statement over ``layers``."""
    args: dict = {"q": _as_col(request.query_vec)._jc}
    where = []

    # O14: case-insensitive type IN-list (reference backend/models.py:159-164)
    if request.type_filter:
        names = [f"t{i}" for i in range(len(request.type_filter))]
        args.update((n, t.lower()) for n, t in zip(names, request.type_filter))
        where.append(f"lower(`type`) IN ({', '.join(':' + n for n in names)})")

    # O15: spatial filter — coarse bbox prune, then exact ray-cast refine
    if request.point is not None:
        lon, lat = request.point
        where.append(bbox_contains_point_sql("bbox", lon, lat))
        where.append(point_in_rings_sql("geom_rings", lon, lat))

    # O16: one conjunction, in the order above
    cond = f" WHERE {' AND '.join(where)}" if where else ""
    fields = ", ".join(f"`{c}`" for c in TEXT_FIELDS)
    # O19: client projection — never returns embeddings/geom
    out = fields + (", dist" if include_dist else "")
    # O17: exact cosine distance (1 − dot on L2-normalized embeddings);
    # O18: deterministic top-k + offset (id tie-break)
    text = (
        f"SELECT {out} FROM (SELECT {fields}, 1.0D - {dot_sql('embeddings', ':q')} AS dist "
        f"FROM {_view(layers)}{cond}) ORDER BY dist ASC, `id` ASC "
        f"LIMIT {int(request.limit)} OFFSET {int(request.skip)}"
    )
    # the JVM entry point binds the dict's values itself: one Py4J call
    # for the statement rather than one per parameter
    spark = layers.sparkSession
    return DataFrame(spark._jsparkSession.sql(text, args), spark)
