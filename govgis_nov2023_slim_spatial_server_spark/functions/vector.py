"""Vector math over ``array<float>`` embedding columns.

Replaces the reference's pgvector operators: the ``<=>`` cosine-distance
ORDER BY (reference backend/models.py:189) and the text-literal vector codec
(reference backend/models.py:104-107, which disappears entirely — Spark
arrays are native).

Distances are exact (the reference has NO ANN index — SURVEY.md §4.1 —
so brute-force is semantic parity, not a shortcut) and come in one tier:
**native higher-order functions** (``zip_with`` + ``aggregate``), which stay
entirely JVM-side inside whole-stage codegen with no Python boundary; at
100 TB the Arrow serialization of a Python UDF is pure overhead for a
64–1024-wide fused multiply-add. The Arrow kernels below
(``argmin_euclidean_arrow``, ``pq_encode_adc_arrow``) are not a second
distance tier: each replaces a many-fold-per-row native form inside one
catalog entry and is pinned bit-identical to it. Both, and the driver-side
PQ lookup table, fold squared differences through the one ``_sq_fold``.

All fold orders are sequential left-to-right, so results are deterministic
and oracle-comparable.
"""

from __future__ import annotations

import functools
import struct
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from .arrow import batch_udf, matrix


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


def _sq_fold(x: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared Euclidean distances from each row of ``x`` (n, d) to
    each row of ``C`` (k, d), as the sequential left fold
    ``acc = acc + d_j·d_j`` in element order j = 0..d−1: the fold of the
    native ``aggregate(zip_with(x, c, x − y), 0.0, acc + d·d)`` and of
    DuckDB's ``list_reduce``, operation for operation. Never ``np.sum`` or
    a BLAS product, whose reassociated sums drift in the last ulp and can
    reorder near-ties. Temporaries are (n, k) float64."""
    acc = np.zeros((x.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(x.shape[1]):
        d = x[:, j, None] - C[None, :, j]
        acc = acc + d * d
    return acc


_ARGMIN_TYPE = StructType(
    [StructField("cid", LongType(), False), StructField("dist", DoubleType(), False)]
)


def argmin_euclidean_arrow(cents: list[tuple[int, list[float]]]):
    """Arrow-vectorized per-row argmin over centroid literals: a batch
    UDF mapping an embedding column to struct<cid: long, dist: double>,
    BIT-IDENTICAL to the native form it replaces —
    ``LEAST(struct(SQRT(aggregate(zip_with(emb, c, x−y), 0.0,
    acc + d·d)), cid) …)`` — because every step reproduces the same
    IEEE-754 operations in the same order:

    - float32 → float64 widening is exact (``matrix``); (x − c) and d·d
      are single binary64 ops on identical inputs;
    - ``_sq_fold`` is the HOF's sequential left fold;
    - ``np.sqrt`` and the JVM's SQRT are both correctly rounded, and the
      argmin compares the sqrt'ed values, as LEAST does;
    - ``np.argmin`` returns the FIRST minimum = the lowest cid on exact
      distance ties, exactly the lexicographic-min (dist, cid) struct
      that LEAST picks, given ``cents`` sorted by cid (asserted).

    Why it exists: higher-order functions are interpreted per element
    (the CLAUDE.md MinHash lesson — `minhash_signature_arrow` is the
    precedent kernel), so k=8 × dim=64 lambda evaluations per row
    dominate the kmeans assignment pass; the numpy fold is k × dim lane
    ops per Arrow batch (measured ~2× on the entry, bit-equal output
    asserted in tests/test_vector.py against the native form)."""
    assert all(
        cents[i][0] < cents[i + 1][0] for i in range(len(cents) - 1)
    ), "cents must be sorted by cid (tie-break contract)"
    C = np.array([v for _, v in cents], dtype=np.float64)  # (k, dim)
    cids = np.array([c for c, _ in cents], dtype=np.int64)

    def argmin_batch(emb: pa.Array) -> dict:
        dist = np.sqrt(_sq_fold(matrix(emb, C.shape[1]), C))
        am = np.argmin(dist, axis=1)
        return {"cid": cids[am], "dist": dist[np.arange(len(am)), am]}

    return batch_udf(_ARGMIN_TYPE, argmin_batch)


def pq_encode_adc_arrow(codebook: list[list[float]], lut: list[list[float]]):
    """Arrow-vectorized PQ encode + ADC distance: a batch UDF mapping an
    embedding column to struct<code0..code3: long, adc_dist: double>,
    BIT-IDENTICAL to the native form it replaces in `pq_adc_rank` —
    per subspace ``LEAST(struct(aggregate(zip_with(slice(emb), cw, x−y),
    0.0, acc + d·d), code) …).c`` then four literal-LUT lookups summed as
    ``((d0 + d1) + d2) + d3`` — by the `argmin_euclidean_arrow` argument:

    - float32 → float64 widening is exact; per subspace, ``_sq_fold`` is
      the HOF's sequential fold, and the argmin compares its squared
      values, as LEAST does;
    - ``np.argmin`` returns the FIRST minimum = the lowest code on exact
      distance ties, exactly what LEAST over struct(d, code) picks with
      codes ascending;
    - the ADC sum uses the same float64 LUT values in the same fixed
      subspace order.

    Why it exists (guide §4.1): the native encode is 4 subspaces × k
    codewords interpreted ``aggregate(zip_with(...))`` folds PER ROW —
    measured 2.1 s for 2 000 rows on one core at sf0.1 — while this
    kernel is 64·k fused numpy lane ops per Arrow batch."""
    C = np.array(codebook, dtype=np.float64)  # (k, 64)
    L = [np.array(row, dtype=np.float64) for row in lut]  # 4 × (k,)
    n_sub = len(lut)
    sub_dim = C.shape[1] // n_sub
    out_type = StructType(
        [StructField(f"code{s}", LongType(), False) for s in range(n_sub)]
        + [StructField("adc_dist", DoubleType(), False)]
    )

    def pq_encode_batch(emb: pa.Array) -> dict:
        x = matrix(emb, C.shape[1])
        cols: dict[str, np.ndarray] = {}
        adc = None
        for s in range(n_sub):
            sub = slice(s * sub_dim, (s + 1) * sub_dim)
            codes = np.argmin(_sq_fold(x[:, sub], C[:, sub]), axis=1)
            cols[f"code{s}"] = codes
            adc = L[s][codes] if adc is None else adc + L[s][codes]  # ((d0+d1)+d2)+d3
        cols["adc_dist"] = adc
        return cols

    return batch_udf(out_type, pq_encode_batch)
