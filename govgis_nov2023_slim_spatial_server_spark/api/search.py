"""Search service: request → plan → collect → hydrate.

The Spark translation of the reference lifecycle (SURVEY.md §3.1): resident
SparkSession instead of per-request asyncpg connections (reference
backend/app.py:19-25), one parameterized SQL statement as the
reference's one parameterized SQL string, ``collect()`` (bounded by
limit ≤ 10) instead of ``conn.fetch``; exceptions → in-band
error (reference backend/app.py:49-53). The MCP markdownify pass (reference
backend/mcp.py:12-20) is applied post-collect when requested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..fixtures.embedder import Embedder
from ..functions.text import html_to_markdown_str
from ..plans.builder import SearchRequest, build_search_plan
from .models import LayerResult, SearchResponse, SemanticSearchRequest


class SearchService:
    def __init__(self, layers: DataFrame, embedder: Embedder):
        self.layers = layers
        self.embedder = embedder

    def search(
        self, request: SemanticSearchRequest, *, markdownify: bool = False
    ) -> SearchResponse:
        try:
            qvec = self.embedder.embed_query(request.request_string)
            point = None
            if request.input_point is not None:
                point = (request.input_point.longitude, request.input_point.latitude)
            plan = build_search_plan(
                self.layers,
                SearchRequest(
                    query_vec=qvec,
                    type_filter=request.type_filter,
                    point=point,
                    skip=request.skip,
                    limit=request.limit,
                ),
                include_dist=False,
            )
            rows = plan.collect()
            layers = [LayerResult.model_validate(r.asDict()) for r in rows]
            if markdownify:
                layers = [
                    LayerResult(
                        **{
                            k: (html_to_markdown_str(v) if isinstance(v, str) else v)
                            for k, v in layer.model_dump().items()
                        }
                    )
                    for layer in layers
                ]
            return SearchResponse(layers=layers)
        except Exception as e:  # in-band error contract
            return SearchResponse(error=str(e))
