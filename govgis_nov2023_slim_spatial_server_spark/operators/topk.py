"""Deterministic top-k with pagination (reference O18).

pgvector's ``LIMIT $n OFFSET $m`` (reference backend/models.py:181-191) has
arbitrary tie order; the engine adds an explicit unique-key tie-break so
results are stable across partitionings (SURVEY.md §7 hard part (b)).

``orderBy().limit(n).offset(m)`` compiles to one
``TakeOrderedAndProject(limit=n, offset=m)`` — per-partition n-heaps merged
at the driver, no global sort, no Exchange — so offset+limit ≤ a few
thousand is O(P·(skip+limit)) driver memory regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def top_k(
    df: DataFrame,
    order: list[Column],
    k: int,
    skip: int = 0,
) -> DataFrame:
    """Top-k with offset, fully in-plan (no driver collect): the first
    ``skip + k`` rows of the total order, less the first ``skip``."""
    return df.orderBy(*order).limit(skip + k).offset(skip)
