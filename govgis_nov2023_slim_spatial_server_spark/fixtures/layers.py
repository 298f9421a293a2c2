"""Reference-shaped `layers` fixture generator (FIXTURES.md §B).

Mirrors the reference table (reference backend/load_data.py:67-81) at test
scale: 64-dim fake embeddings, WKB rectangles over the continental-US lon/
lat box, ~5% duplicate (id, metadata_text) pairs to exercise dedup
(reference backend/load_data.py:177), ~10% HTML descriptions to exercise
html→markdown (reference backend/mcp.py:12-20), ~2% NULL geometry.

Deterministic for a given (n, seed); built driver-side then parallelized —
fixture-only code, never a production ingest path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..fixtures.embedder import FakeEmbedder
from ..functions.spatial import wkb_box, wkb_geometry
from ..schemas import LAYERS_SCHEMA

_TYPES = ["Feature Layer", "Table", "Raster Layer", "Map Service"]
_WORDS = (
    "parcel zoning hydrology elevation roads bridges census flood utility "
    "boundary district survey soil wetland transit parks school fire police "
    "water sewer electric broadband trail county state federal"
).split()


def make_layer_rows(n: int = 500, seed: int = 42, dim: int = 64) -> list[tuple]:
    rng = np.random.RandomState(seed)
    emb = FakeEmbedder(dim=dim, seed=seed)
    rows: list[tuple] = []
    for i in range(n):
        name = " ".join(rng.choice(_WORDS, size=2))
        typ = str(rng.choice(_TYPES))
        if rng.rand() < 0.3:  # mixed case exercises LOWER() filter
            typ = typ.upper() if rng.rand() < 0.5 else typ.lower()
        desc_words = " ".join(rng.choice(_WORDS, size=8))
        desc = (
            f"<p><b>{name}</b> {desc_words}</p>" if rng.rand() < 0.1 else desc_words
        )
        url = f"https://example.test/arcgis/rest/services/svc{i}/FeatureServer/0"
        meta = f"url: {url}\nname: {name}\ntype: {typ}\ndescription: {desc}"
        if rng.rand() < 0.02:
            geom, bbox, rings = None, None, None
        else:
            cx = rng.uniform(-125.0, -66.0)
            cy = rng.uniform(24.0, 49.0)
            w = rng.uniform(0.1, 2.0)
            h = rng.uniform(0.1, 2.0)
            xmin, xmax = cx - w / 2, cx + w / 2
            ymin, ymax = cy - h / 2, cy + h / 2
            geom = wkb_box(xmin, ymin, xmax, ymax)
            bbox = (xmin, ymin, xmax, ymax)
            rings = wkb_geometry(geom)[1]  # as ingest derives it
        vec = [float(np.float32(x)) for x in emb.embed_query(meta)]
        rows.append(
            (f"layer-{i:06d}", name, typ, desc, url, meta, vec, geom, bbox, rings)
        )
    # ~5% duplicated (id, metadata_text) pairs
    n_dup = max(1, n // 20)
    dup_idx = rng.choice(n, size=n_dup, replace=False)
    rows.extend(rows[j] for j in dup_idx)
    return rows


def make_layers_df(
    spark: SparkSession, n: int = 500, seed: int = 42, dim: int = 64
) -> DataFrame:
    return spark.createDataFrame(make_layer_rows(n, seed, dim), LAYERS_SCHEMA)
