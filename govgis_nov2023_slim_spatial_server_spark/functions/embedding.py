"""Batch column embedding — reference O12 generalized.

The reference embeds one query string per request driver-side (reference
backend/models.py:109-111, model at backend/app.py:28-33). The pipeline
extension embeds a whole text COLUMN: a batch UDF (``functions/arrow.py``)
calls the pluggable `Embedder` once per Arrow batch (model loaded once per
worker, not per row). In production the embedder is a real model (GPU per executor, batch
inference); tests use the deterministic FakeEmbedder — engine core never
imports torch (SURVEY.md §7 hard part (c)).
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from ..fixtures.embedder import Embedder, FakeEmbedder
from .arrow import batch_udf


def make_embed_udf(embedder_factory: Callable[[], Embedder]):
    """Batch UDF embedding a string column → array<float> (NULL text
    embeds as the empty string).

    Takes a FACTORY (not an instance) so each Python worker constructs the
    model locally instead of deserializing weights through the closure —
    the difference between shipping a config and shipping gigabytes.
    """
    state: dict = {}

    def embed_batch(texts: pa.Array) -> list:
        if "m" not in state:
            state["m"] = embedder_factory()
        return state["m"].embed_documents(["" if t is None else t for t in texts.to_pylist()])

    return batch_udf(ArrayType(FloatType(), containsNull=False), embed_batch)


def embed_column(
    df: DataFrame,
    text_col: str,
    out_col: str = "embeddings",
    embedder_factory: Callable[[], Embedder] | None = None,
) -> DataFrame:
    factory = embedder_factory or (lambda: FakeEmbedder(dim=64, seed=42))
    return df.withColumn(out_col, make_embed_udf(factory)(F.col(text_col)))
