"""Pandas/Arrow UDF wrappers around the numpy quadtree kernels.

Every kernel runs Arrow-batched on executors (``pandas_udf``) — no per-row
Python (BASELINE.json ``input_hint``). The scalar column expressions here are
the engine's extension surface for quadtree math; everything relational stays
in built-in ``pyspark.sql.functions`` so Catalyst/Tungsten keep codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from . import quadtree as qtk


@pandas_udf(LongType())
def qt_point(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Point quadtree key at max depth (fixed-point int inputs)."""
    return pd.Series(
        qtk.point_quadtree(lon.to_numpy(np.int64), lat.to_numpy(np.int64), qtk.MAX_DEPTH)
    )


@pandas_udf(LongType())
def qt_lca_agg(key: pd.Series) -> int:  # grouped-agg variant
    """Grouped-aggregate LCA over a whole group (A2) — numpy tree-reduce,
    shuffle-safe because LCA is associative/commutative."""
    arr = key.to_numpy(np.int64)
    if arr.size == 0:
        return 0
    return int(qtk.common_reduce(arr))

