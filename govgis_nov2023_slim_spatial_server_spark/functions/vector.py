"""Vector math over ``array<float>`` embedding columns.

Replaces the reference's pgvector operators: the ``<=>`` cosine-distance
ORDER BY (reference backend/models.py:189) and the text-literal vector codec
(reference backend/models.py:104-107, which disappears entirely — Spark
arrays are native).

Distances are exact (the reference has NO ANN index — SURVEY.md §4.1 —
so brute-force is semantic parity, not a shortcut) and come in one tier:
**native higher-order functions** (``zip_with`` + ``aggregate``), which stay
entirely JVM-side inside whole-stage codegen with no Python boundary; at
100 TB the Arrow serialization of a pandas UDF is pure overhead for a
64–1024-wide fused multiply-add. The Arrow kernels below
(``argmin_euclidean_arrow``, ``pq_encode_adc_arrow``) are not a second
distance tier: each replaces a many-fold-per-row native form inside one
catalog entry and is pinned bit-identical to it.

All fold orders are sequential left-to-right, so results are deterministic
and oracle-comparable.
"""

from __future__ import annotations

import functools
import struct
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


@functools.lru_cache(maxsize=1)
def _jvm_classes(gateway):
    """The JVM classes ``_as_col`` calls, resolved once per gateway: every
    package level of a dotted lookup is a Py4J round trip of its own."""
    jvm = gateway.jvm
    return jvm.double, jvm.java.nio.ByteBuffer, jvm.org.apache.spark.sql.functions


def _as_col(v: Column | str | Iterable[float]) -> Column:
    """Lift a Python vector literal into an array<double> Column.

    The vector crosses to the JVM as one byte string and becomes ONE
    array literal, so a query's plan costs the same at any embedding
    width: a constant number of Py4J calls, and one literal node rather
    than one child per element for the analyzer to revisit on every later
    DataFrame step. The doubles travel as their IEEE-754 bytes, so the
    array holds exactly the values given."""
    if isinstance(v, Column):
        return v
    if isinstance(v, str):
        return F.col(v)
    xs = [float(x) for x in v]
    gateway = SparkContext._active_spark_context._gateway
    double, byte_buffer, functions = _jvm_classes(gateway)
    arr = gateway.new_array(double, len(xs))
    raw = bytearray(struct.pack(f">{len(xs)}d", *xs))  # ByteBuffer's byte order
    byte_buffer.wrap(raw).asDoubleBuffer().get(arr)
    return Column(functions.lit(arr))


def dot(a: Column | str, b: Column | str | Iterable[float]) -> Column:
    """Exact dot product as a sequential double fold (codegen-friendly)."""
    prod = F.zip_with(
        _as_col(a),
        _as_col(b),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    return F.aggregate(prod, F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def dot_sql(a: str, b: str) -> str:
    """``dot`` as SQL text over two array expressions: the same
    sequential double fold, for plans built as one SQL statement."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize an embedding column (mirrors the reference's
    ``normalize_embeddings=True``, reference backend/app.py:32)."""
    a = _as_col(a)
    n = l2_norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x.cast("double") / n)).otherwise(
        F.transform(a, lambda x: x.cast("double"))
    )


def cosine_similarity(a: Column | str, b: Column | str | Iterable[float]) -> Column:
    """Full cosine (dot / norms) — safe for non-normalized inputs."""
    a, b = _as_col(a), _as_col(b)
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(None).cast("double"))


def cosine_distance(
    a: Column | str,
    b: Column | str | Iterable[float],
    *,
    normalized: bool = False,
) -> Column:
    """pgvector's ``<=>`` equivalent. With ``normalized=True`` uses the
    1 − dot fast path (valid because reference embeddings are L2-normalized,
    reference backend/app.py:32)."""
    if normalized:
        return F.lit(1.0) - dot(a, b)
    return F.lit(1.0) - cosine_similarity(a, b)


def euclidean_distance(a: Column | str, b: Column | str | Iterable[float]) -> Column:
    diff = F.zip_with(
        _as_col(a), _as_col(b), lambda x, y: x.cast("double") - y.cast("double")
    )
    return F.sqrt(
        F.aggregate(diff, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )


def quantize_int8(emb_col: Column | str) -> Column:
    """Symmetric per-vector int8 quantization — the 4× memory/IO reducer for
    ANN stores at 100 TB (scan int8 codes, dequantize only survivors).

    Returns struct<scale:double, q:array<long>, mse:double>:
    ``scale = max|x| / 127``, ``q_i = clamp(floor(x_i/scale + 0.5), ±127)``,
    ``mse`` the round-trip squared error mean. floor(x+0.5) is used instead
    of round() deliberately: HALF_UP vs banker's rounding differs BETWEEN
    engines, floor arithmetic is bit-identical everywhere — which is what
    makes the operator oracle-checkable. Fully native HOFs (codegen); each
    binding is let-bound so Catalyst's CollapseProject cannot re-inline the
    shared subexpressions (see hashes._let).
    """
    from .hashes import _let

    c = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    v = F.transform(c, lambda x: x.cast("double"))

    def _with_v(vv: Column) -> Column:
        scale = F.array_max(F.transform(vv, lambda x: F.abs(x))) / F.lit(127.0)

        def _with_scale(sc: Column) -> Column:
            q = F.transform(
                vv,
                lambda x: F.greatest(
                    F.lit(-127).cast("long"),
                    F.least(F.lit(127).cast("long"), F.floor(x / sc + F.lit(0.5))),
                ),
            )

            def _with_q(qq: Column) -> Column:
                se = F.aggregate(
                    F.zip_with(vv, qq, lambda a, b: (a - b * sc) * (a - b * sc)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                return F.struct(
                    sc.alias("scale"),
                    qq.alias("q"),
                    (se / F.size(vv)).alias("mse"),
                )

            return _let(q, _with_q)

        return _let(scale, _with_scale)

    return _let(v, _with_v)


def argmin_euclidean_arrow(cents: list[tuple[int, list[float]]]):
    """Arrow-vectorized per-row argmin over centroid literals: a pandas
    UDF mapping an embedding column to struct<cid: long, dist: double>,
    BIT-IDENTICAL to the native form it replaces —
    ``LEAST(struct(SQRT(aggregate(zip_with(emb, c, x−y), 0.0,
    acc + d·d)), cid) …)`` — because every step reproduces the same
    IEEE-754 operations in the same order:

    - float32 → float64 widening is exact; (x − c) and d·d are single
      binary64 ops on identical inputs;
    - the HOF's sequential left fold is replicated by ``np.cumsum`` along
      the dim axis (cumsum adds strictly left-to-right — NOT ``np.sum``,
      whose pairwise summation reassociates and drifts in the last ulp);
    - ``np.sqrt`` and the JVM's SQRT are both correctly rounded;
    - ``np.argmin`` returns the FIRST minimum = the lowest cid on exact
      distance ties, exactly the lexicographic-min (dist, cid) struct
      that LEAST picks, given ``cents`` sorted by cid (asserted).

    Why it exists: higher-order functions are interpreted per element
    (the CLAUDE.md MinHash lesson — `minhash_signature_arrow` is the
    precedent kernel), so k=8 × dim=64 lambda evaluations per row
    dominate the kmeans assignment pass; the numpy broadcast is one
    fused pass per Arrow batch (measured ~2× on the entry, bit-equal
    output asserted in tests/test_vector.py against the native form).
    Batch temporaries are batch × k × dim float64 — ~4 MB at the default
    10k Arrow batch, constant in corpus size."""
    assert all(
        cents[i][0] < cents[i + 1][0] for i in range(len(cents) - 1)
    ), "cents must be sorted by cid (tie-break contract)"
    C = np.array([v for _, v in cents], dtype=np.float64)  # (k, dim)
    cids = np.array([c for c, _ in cents], dtype=np.int64)

    from pyspark.sql.types import LongType, StructField, StructType

    out_type = StructType(
        [
            StructField("cid", LongType(), False),
            StructField("dist", DoubleType(), False),
        ]
    )

    @pandas_udf(out_type)
    def _assign(batch: pd.Series) -> pd.DataFrame:
        if len(batch) == 0:
            return pd.DataFrame({"cid": [], "dist": []})
        # float64 directly (ADVICE r15): exact for the float32 arrays the
        # column physically carries, and LOSSLESS if an upstream select
        # ever ships array<double> (the float32 coercion would silently
        # truncate those).
        x = np.array(list(batch), dtype=np.float64)
        d = x[:, None, :] - C[None, :, :]
        sq = d * d
        dist = np.sqrt(np.cumsum(sq, axis=2)[:, :, -1])  # (n, k)
        am = np.argmin(dist, axis=1)
        rows = np.arange(len(x))
        return pd.DataFrame(
            {"cid": cids[am], "dist": dist[rows, am]}
        )

    return _assign


def pq_encode_adc_arrow(codebook: list[list[float]], lut: list[list[float]]):
    """Arrow-vectorized PQ encode + ADC distance: a pandas UDF mapping an
    embedding column to struct<code0..code3: long, adc_dist: double>,
    BIT-IDENTICAL to the native form it replaces in `pq_adc_rank` —
    per subspace ``LEAST(struct(aggregate(zip_with(slice(emb), cw, x−y),
    0.0, acc + d·d), code) …).c`` then four literal-LUT lookups summed as
    ``((d0 + d1) + d2) + d3`` — by the `argmin_euclidean_arrow` argument:

    - float32 → float64 widening is exact; (x − c) and d·d are single
      binary64 ops on identical inputs;
    - the HOF's sequential left fold is replicated by accumulating the 16
      per-element squares in index order (``acc = acc + d_j·d_j`` per j —
      never ``np.sum``, whose pairwise summation reassociates);
    - ``np.argmin`` returns the FIRST minimum = the lowest code on exact
      distance ties, exactly what LEAST over struct(d, code) picks with
      codes ascending;
    - the ADC sum uses the same float64 LUT values in the same fixed
      subspace order.

    Why it exists (guide §4.1): the native encode is 4 subspaces × k
    codewords interpreted ``aggregate(zip_with(...))`` folds PER ROW —
    measured 2.1 s for 2 000 rows on one core at sf0.1 — while this
    kernel is 64·k fused numpy lane ops per Arrow batch. Batch
    temporaries are batch × k float64 per subspace (~1.3 MB at the
    default 10k Arrow batch), constant in corpus size."""
    C = np.array(codebook, dtype=np.float64)  # (k, 64)
    L = [np.array(row, dtype=np.float64) for row in lut]  # 4 × (k,)
    n_sub = len(lut)
    sub_dim = C.shape[1] // n_sub

    from pyspark.sql.types import LongType, StructField, StructType

    out_type = StructType(
        [StructField(f"code{s}", LongType(), False) for s in range(n_sub)]
        + [StructField("adc_dist", DoubleType(), False)]
    )

    @pandas_udf(out_type)
    def _encode(batch: pd.Series) -> pd.DataFrame:
        cols: dict[str, np.ndarray] = {}
        if len(batch) == 0:
            return pd.DataFrame(
                {
                    **{f"code{s}": np.array([], dtype=np.int64) for s in range(n_sub)},
                    "adc_dist": np.array([], dtype=np.float64),
                }
            )
        # float64 directly (ADVICE r15): exact for float32 input, lossless
        # for float64 — never a silent truncation.
        x = np.array(list(batch), dtype=np.float64)
        adc = None
        for s in range(n_sub):
            sub = x[:, s * sub_dim : (s + 1) * sub_dim]  # (n, 16)
            csub = C[:, s * sub_dim : (s + 1) * sub_dim]  # (k, 16)
            acc = np.zeros((len(x), C.shape[0]), dtype=np.float64)
            for j in range(sub_dim):  # sequential left fold, element order
                d = sub[:, j][:, None] - csub[None, :, j]
                acc = acc + d * d
            codes = np.argmin(acc, axis=1).astype(np.int64)
            cols[f"code{s}"] = codes
            term = L[s][codes]
            adc = term if adc is None else adc + term  # ((d0+d1)+d2)+d3
        cols["adc_dist"] = adc
        return pd.DataFrame(cols)

    return _encode
