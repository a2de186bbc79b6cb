"""Arrow-batched pandas UDFs wrapping the scalar kernels.

Per BASELINE.json input_hint: vectorized pandas/Arrow UDFs throughout,
never row-at-a-time Python UDFs. The composite metrics are pure-Python
scalars, so the win here is Arrow batch transfer + the per-executor
lru_cache on repeated (keyword, literal) pairs — candidate filtering
re-scores the same pair across groups within a chunk.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import kernels as K


def asm_udf(stopwords: tuple[str, ...]):
    """advanced_string_matching(a, b) over two string columns (T7)."""
    sw = tuple(stopwords)

    @F.pandas_udf(T.DoubleType())
    def _asm(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                K.advanced_string_matching_cached(x, y, sw)
                if x is not None and y is not None
                else 0.0
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    return _asm


def asm_passes_udf(stopwords: tuple[str, ...], threshold: float):
    """Boolean `advanced_string_matching(a,b) > threshold` with the
    exact jaccard/soundex short-circuits (kernels.asm_passes) — the F11
    hot path where only the decision is consumed."""
    sw = tuple(stopwords)
    thr = float(threshold)

    @F.pandas_udf(T.BooleanType())
    def _asm_p(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                K.asm_passes_cached(x, y, sw, thr)
                if x is not None and y is not None
                else False
                for x, y in zip(a, b)
            ],
            dtype="bool",
        )

    return _asm_p

