"""Arrow-batched pandas UDFs — the only Python that ever runs executor-side.

Each UDF wraps a vectorized numpy kernel (no per-row Python), per the
north_star requirement: "encoded to ... Hilbert indices via vectorized
pandas/Arrow UDFs (batched encode, no per-row Python)".
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..curve.hilbert import encode2d


def hilbert_encode_udf(order: int):
    """(x, y) -> Hilbert index at ``order`` bits/axis (LongType)."""

    @F.pandas_udf(LongType())
    def _encode(x: pd.Series, y: pd.Series) -> pd.Series:
        h = encode2d(x.to_numpy(np.int64), y.to_numpy(np.int64), order)
        return pd.Series(h)

    return _encode
