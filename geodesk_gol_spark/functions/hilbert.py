"""Hilbert-curve distance (F4) — vectorized numpy Pandas UDF.

The reference orders features within each tile by the Hilbert distance of
their bbox center to build R-tree leaves
(/root/reference/src/tile/compiler/HilbertIndexBuilder.cpp:16-130; the
curve function itself lives in libgeodesk geom/index/hilbert.h).

Implementation is the classic Hamilton/Wikipedia xy→d conversion,
vectorized over numpy arrays (one rotate-and-accumulate pass per bit
level, ORDER iterations total — no per-row Python).  The exact distance
values are OUR spec (the reference's constants are not observable here);
what matters is identical clustering semantics: space-filling locality
within a tile.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

ORDER = 16  # 16-bit per axis → 32-bit distances, ample within a tile


def hilbert_xy2d(x: np.ndarray, y: np.ndarray, order: int = ORDER) -> np.ndarray:
    """Vectorized xy→d for a 2^order × 2^order grid."""
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = x[flip]
        y_f = y[flip]
        x[flip] = s - 1 - x_f
        y[flip] = s - 1 - y_f
        xs = x[swap].copy()
        x[swap] = y[swap]
        y[swap] = xs
        s >>= 1
    return d


@F.pandas_udf(LongType())
def hilbert_udf(x: pd.Series, y: pd.Series) -> pd.Series:
    return pd.Series(hilbert_xy2d(x.to_numpy(), y.to_numpy()))
