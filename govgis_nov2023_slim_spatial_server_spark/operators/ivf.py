"""IVF (inverted-file) approximate nearest neighbor — the second scale
path next to sign-LSH bucketing (operators/knn.lsh_bucketed_knn).

Classic IVF-Flat decomposition (Jégou et al., public literature):
1. TRAIN: k-means centroids from a driver-side sample (sampling is the
   standard IVF move — centroid quality needs thousands of vectors, not
   all of them).
2. ASSIGN: every corpus vector gets its nearest-centroid id from the
   Arrow argmin kernel (``functions/vector.argmin_euclidean_arrow``).
3. SEARCH: rank centroids against the query, scan only the ``n_probe``
   nearest clusters exactly.

At 100 TB the assignment is written once (`write_ivf`) partitioned by
``cluster`` — a query then partition-prunes to n_probe directories, i.e.
reads n_probe/n_centroids of the corpus. Approximate ⇒ no SQL oracle;
recall vs exact KNN is asserted in tests.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import argmin_euclidean_arrow
from .knn import knn


def train_centroids(
    df: DataFrame,
    emb_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 10_000,
    n_iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Seeded Lloyd's k-means on a driver-side sample (numpy)."""
    total = df.count()
    frac = min(1.0, sample_size / max(total, 1))
    sample = (
        df.select(emb_col).sample(fraction=frac, seed=seed).limit(sample_size).collect()
    )
    x = np.asarray([r[0] for r in sample], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(n_iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def assign_clusters(
    df: DataFrame, centroids: np.ndarray, emb_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid id per row: the cid of ``argmin_euclidean_arrow``
    over the centroids numbered 0..k−1, i.e. the order (Euclidean
    distance, then id) that the IVF oracles replay in SQL."""
    assign = argmin_euclidean_arrow(list(enumerate(centroids)))
    return df.withColumn("cluster", assign(F.col(emb_col))["cid"].cast("int"))


def ivf_search(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int,
    n_probe: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact KNN over the n_probe clusters nearest to the query."""
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probe = [int(c) for c in d2.argsort()[:n_probe]]
    filtered = assigned.where(F.col("cluster").isin(probe))
    return knn(filtered, query_vec, k, emb_col=emb_col, id_col=id_col).drop("cluster")


def write_ivf(assigned: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist the inverted file partitioned by cluster — queries then
    partition-prune to the probed clusters (directory skipping)."""
    assigned.write.mode(mode).partitionBy("cluster").parquet(path)


def ivf_knn(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    n_centroids: int = 16,
    n_probe: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Train + assign + search in one call (test/bench convenience; real
    deployments train/assign once and reuse via write_ivf)."""
    cents = train_centroids(df, emb_col, n_centroids, seed=seed)
    assigned = assign_clusters(df, cents, emb_col)
    return ivf_search(assigned, cents, query_vec, k, n_probe, emb_col, id_col)
