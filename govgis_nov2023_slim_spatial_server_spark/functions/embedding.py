"""Batch column embedding — reference O12 generalized.

The reference embeds one query string per request driver-side (reference
backend/models.py:109-111, model at backend/app.py:28-33). The pipeline
extension embeds a whole text COLUMN: an Arrow-batched pandas UDF calls the
pluggable `Embedder` once per batch (model loaded once per worker, not per
row). In production the embedder is a real model (GPU per executor, batch
inference); tests use the deterministic FakeEmbedder — engine core never
imports torch (SURVEY.md §7 hard part (c)).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from ..fixtures.embedder import Embedder, FakeEmbedder


def make_embed_udf(embedder_factory: Callable[[], Embedder]):
    """pandas UDF embedding a string column → array<float>.

    Takes a FACTORY (not an instance) so each Python worker constructs the
    model locally instead of deserializing weights through the closure —
    the difference between shipping a config and shipping gigabytes.
    """
    state: dict = {}

    @pandas_udf(ArrayType(FloatType(), containsNull=False))
    def _embed(texts: pd.Series) -> pd.Series:
        if "m" not in state:
            state["m"] = embedder_factory()
        model = state["m"]
        return pd.Series(model.embed_documents(texts.fillna("").tolist()))

    return _embed


def embed_column(
    df: DataFrame,
    text_col: str,
    out_col: str = "embeddings",
    embedder_factory: Callable[[], Embedder] | None = None,
) -> DataFrame:
    factory = embedder_factory or (lambda: FakeEmbedder(dim=64, seed=42))
    return df.withColumn(out_col, make_embed_udf(factory)(F.col(text_col)))
