"""The one Arrow boundary for scalar Python kernels.

Every scalar Python UDF in the package is built here, on ``arrow_udf``:
pyarrow arrays in, one pyarrow array out, no pandas conversion on either
side. The module owns the decisions each site used to hand-roll:

- **NaN and NULL.** A result is built as the declared Arrow type from the
  kernel's Python or numpy values, so NaN stays NaN (as in the native
  expressions and in DuckDB) and NULL comes only from a ``None`` the
  kernel returns. A pandas round trip would turn every NaN into NULL.
- **Empty batches.** ``row_udf`` maps over zero rows, and ``matrix``
  reshapes an empty batch to ``(0, dim)``, so no kernel branches on them.
- **Embedding decode.** ``matrix`` is the one ``list<float|double>`` →
  numpy decode, and it raises on a NULL or ragged row instead of padding
  or guessing.

The batch size is the session's ``spark.sql.execution.arrow.maxRecordsPerBatch``.
Per-operator Python rows, bytes and time are Spark's own ``ArrowEvalPython``
metrics.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType


def batch_udf(return_type: DataType, fn: Callable):
    """Scalar UDF calling ``fn(*arrays)`` once per Arrow batch.

    ``fn`` returns the batch's values in row order: a list or 1-D numpy
    array, or, for a struct ``return_type``, a dict of one such column per
    field. They are built as the declared Arrow type."""
    out_type = to_arrow_type(return_type)

    def _batch(*cols: pa.Array) -> pa.Array:
        out = fn(*cols)
        if isinstance(out, dict):
            return pa.StructArray.from_arrays(
                [pa.array(out[f.name], type=f.type) for f in out_type], fields=list(out_type)
            )
        return pa.array(out, type=out_type)

    _batch.__name__ = fn.__name__  # the plan's ArrowEvalPython names the kernel
    return arrow_udf(_batch, return_type)


def row_udf(return_type: DataType, fn: Callable):
    """Scalar UDF mapping ``fn`` over each row's Python values (NULL is
    ``None``); a struct result is a tuple in field order or a dict."""

    def _rows(*cols: pa.Array) -> list:
        return [fn(*row) for row in zip(*(c.to_pylist() for c in cols))]

    _rows.__name__ = fn.__name__
    return batch_udf(return_type, _rows)


def matrix(arr: pa.Array, dim: int) -> np.ndarray:
    """An ``(n, dim)`` float64 matrix from a ``list<float|double>`` array.

    Widening float32 to float64 is exact. Raises ``ValueError`` on a NULL
    row or element and on a row whose length is not ``dim``."""
    if arr.null_count:
        raise ValueError(f"matrix: {arr.null_count} NULL row(s)")
    lengths = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    if (lengths != dim).any():
        raise ValueError(f"matrix: a row has {lengths[lengths != dim][0]} elements, expected {dim}")
    flat = arr.flatten()
    if flat.null_count:
        raise ValueError(f"matrix: {flat.null_count} NULL element(s)")
    return flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False).reshape(len(arr), dim)
