"""Array functions over ARRAY(DOUBLE) columns.

Reference: QuestDB n-dim DOUBLE arrays (``cairo/arr/``,
``functions/array/`` — 49 files: slice/flatten/transpose, elementwise ops,
dot product, matmul, cumsum, insertion_point, per-array aggregations).
Spark-side: ops are higher-order functions (codegen); transpose on nested
arrays uses a vectorized Pandas UDF (numpy) — the documented slow path,
used only where HOFs genuinely can't express the op.  The 1-D array
functions the dialect exposes are lowered to SQL text in
``sqlfront/engine.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def array_sum(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)


def scale(a: Column, k: Column | float) -> Column:
    kk = F.lit(k) if isinstance(k, (int, float)) else k
    return F.transform(a, lambda x: x * kk)


def dim_length(a: Column, dim: int) -> Column:
    """dim_length(arr, dim) (ArrayDimLengthFunctionFactory, 1-based dim):
    nested-array representation — dim 1 is the outer size, each deeper dim
    is the size of the first element at that depth (QuestDB arrays are
    rectangular by construction, so the first element is representative)."""
    c = a
    for _ in range(dim - 1):
        c = F.element_at(c, 1)
    return F.size(c)


def flatten_ndim(a: Column, depth: int = 1) -> Column:
    """flatten(D[]) (DoubleArrayFlattenFunctionFactory): n-dim → 1-dim.
    Spark's flatten removes one nesting level per call; ``depth`` = number
    of levels to remove (ndims - 1)."""
    c = a
    for _ in range(depth):
        c = F.flatten(c)
    return c


# -- rank-N forms (r9) --------------------------------------------------------
# The reference supports arrays up to 32 dims (cairo/ColumnType.java:59,
# ARRAY_NDIMS_LIMIT); elementwise ops are shape-generic
# (DoubleArrayAddFunctionFactory et al. walk the flat value vector) and
# transpose REVERSES shape+strides at any rank
# (cairo/arr/DerivedArrayView.java:305).  The Spark lowering is recursive
# higher-order functions — still whole-stage-codegen'd column expressions,
# one nested lambda per rank — with numpy for transpose only.

MAX_RANK = 32  # ColumnType.java:59 ARRAY_NDIMS_LIMIT


def _check_rank(rank: int) -> None:
    if not 1 <= rank <= MAX_RANK:
        raise ValueError(f"maximum number of array dimensions is {MAX_RANK}")


def map_nd(a: Column, f, rank: int) -> Column:
    """Apply a scalar lambda to every element of a rank-``rank`` nested
    array: ``transform`` composed ``rank`` deep."""
    _check_rank(rank)
    if rank == 1:
        return F.transform(a, f)
    return F.transform(a, lambda x: map_nd(x, f, rank - 1))


def zip_nd(a: Column, b: Column, f, rank: int) -> Column:
    """Combine two same-shape rank-``rank`` arrays elementwise
    (DoubleArrayAdd/Subtract/Multiply/Div at any rank)."""
    _check_rank(rank)
    if rank == 1:
        return F.zip_with(a, b, f)
    return F.zip_with(a, b, lambda x, y: zip_nd(x, y, f, rank - 1))


def elementwise_nd(a: Column, b: Column, op: str, rank: int) -> Column:
    ops = {
        "+": lambda x, y: x + y,
        "-": lambda x, y: x - y,
        "*": lambda x, y: x * y,
        "/": lambda x, y: x / y,
    }
    return zip_nd(a, b, ops[op], rank)


def array_neg_nd(a: Column, rank: int) -> Column:
    return map_nd(a, lambda x: -x, rank)


def scale_nd(a: Column, k: Column | float, rank: int) -> Column:
    kk = F.lit(k) if isinstance(k, (int, float)) else k
    return map_nd(a, lambda x: x * kk, rank)


def array_sum_nd(a: Column, rank: int) -> Column:
    """Sum of every element at any rank: flatten to 1-D, then aggregate."""
    _check_rank(rank)
    return array_sum(flatten_ndim(a, rank - 1))


def transpose_ndim_udf(rank: int):
    """transpose() at rank N (DerivedArrayView.transpose reverses shape —
    numpy ``.T`` exactly): a Pandas-UDF factory, one per rank (the return
    type is rank-dependent)."""
    _check_rank(rank)
    rtype = "double"
    for _ in range(rank):
        rtype = f"array<{rtype}>"

    @pandas_udf(rtype)
    def _t(m: pd.Series) -> pd.Series:
        # self-contained closure (no module-level references): pickling a
        # reference to this module would re-import it on the worker, where
        # the module-level pandas_udf decorators have no active session
        def nested(v):
            if isinstance(v, (list, tuple)):
                return [nested(x) for x in v]
            if isinstance(v, np.ndarray):
                return [nested(x) for x in v.tolist()]
            return v

        return m.map(
            lambda rows: None
            if rows is None
            else np.asarray(nested(rows), dtype=float).T.tolist()
        )

    return _t
