"""Vector scoring over array<float> columns: the one shared Arrow
pair-scoring kernel used wherever a rounded cosine crosses the oracle hash
gate."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import DoubleType


@F.pandas_udf(DoubleType())
def _pair_cosine_rounded_udf(xa: pd.Series, xb: pd.Series) -> pd.Series:
    from ..util import round_half_away

    a = np.stack(xa.to_numpy()).astype(np.float64)
    b = np.stack(xb.to_numpy()).astype(np.float64)
    dot = np.zeros(len(a))
    na = np.zeros(len(a))
    nb = np.zeros(len(a))
    for d in range(a.shape[1]):
        dot += a[:, d] * b[:, d]
        na += a[:, d] * a[:, d]
        nb += b[:, d] * b[:, d]
    return pd.Series(round_half_away(dot / (np.sqrt(na) * np.sqrt(nb)), 6))


def pair_cosine_rounded(a: Column, b: Column) -> Column:
    """cosine(a, b) rounded to 6 dp with DuckDB ``round`` semantics (binary
    half-away-from-zero, via ``util.round_half_away``) — the ONE scoring
    kernel every oracle-hash-gated similarity query shares, so Spark and the
    DuckDB oracle can never disagree on a knife-edge value. Accumulates dot
    and norms per element index left-to-right, the identical summation order
    as DuckDB's ``list_dot_product`` fold (BLAS blocked accumulation can
    differ in final ulps, which after rounding could flip a comparison).
    ``F.round`` over a Column cosine is close but NOT identical: it
    applies HALF_UP to the shortest-decimal repr via BigDecimal, which can
    diverge from binary-value rounding — a latent hash-gate flake on future
    fixtures (ADVICE r3). Arrow cost: 2·dim floats per pair, plan compiles in
    ms (vs ~1.5 s Janino for the unrolled Column tree at dim=64)."""
    return _pair_cosine_rounded_udf(a, b)
