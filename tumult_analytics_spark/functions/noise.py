"""DP noise mechanisms as columnar Spark operations.

The reference delegates noise to tmlt.core; here the samplers are
implemented directly as Arrow-batched pandas UDFs (vectorized numpy per
batch), applied to the *aggregated* DataFrame — one noise draw per output
group, so the noise stage costs O(#groups), never O(#rows). Each batch
seeds an independent numpy Generator from OS entropy: partitions never
share a seed (SURVEY.md §4.4 pitfall).

Mechanisms:
- GEOMETRIC: two-sided (discrete Laplace), P(k) ∝ exp(-|k|/b); integer.
- LAPLACE: continuous, scale b.
- GAUSSIAN: continuous, sigma.
- DISCRETE_GAUSSIAN: integer, exact sampler per Canonne-Kamath-Steinke
  (NeurIPS 2020, arXiv:2004.00010) rejection from discrete Laplace.

Scale conventions (d = sensitivity):
- PureDP/ApproxDP: geometric/laplace b = d / epsilon.
- zCDP: (discrete) gaussian sigma^2 = d^2 / (2 rho).
"""

from __future__ import annotations

import math
import secrets
from dataclasses import dataclass
from enum import Enum
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


class NoiseMechanism(Enum):
    GEOMETRIC = "geometric"
    LAPLACE = "laplace"
    GAUSSIAN = "gaussian"
    DISCRETE_GAUSSIAN = "discrete_gaussian"
    #: Exponential mechanism (quantile): introspection-only — its
    #: "noise_parameter" is the epsilon it consumes (reference
    #: _noise_info.py:197), never a sampler scale.
    EXPONENTIAL = "exponential"

    @property
    def is_integer_valued(self) -> bool:
        return self in (NoiseMechanism.GEOMETRIC, NoiseMechanism.DISCRETE_GAUSSIAN)


@dataclass(frozen=True)
class NoiseInfo:
    """Introspection record: which mechanism with which parameter
    (reference _noise_info.py:23-64)."""

    noise_mechanism: NoiseMechanism
    noise_parameter: float

    def as_dict(self) -> dict:
        # Gaussian-family parameters are reported as the VARIANCE
        # (sigma^2), matching the reference's _noise_info convention
        # (its expected values are calculate_noise_scale(...)**2);
        # Laplace/geometric report the scale b = sensitivity/epsilon.
        p = self.noise_parameter
        if self.noise_mechanism in (
            NoiseMechanism.GAUSSIAN,
            NoiseMechanism.DISCRETE_GAUSSIAN,
        ):
            p = p * p
        return {
            "noise_mechanism": self.noise_mechanism.name,
            "noise_parameter": p,
        }


def _rng() -> np.random.Generator:
    return np.random.default_rng(secrets.randbits(128))


def _sample_two_sided_geometric(rng, b: float, n: int) -> np.ndarray:
    """P(k) ∝ exp(-|k|/b) as difference of two geometrics."""
    p = 1.0 - math.exp(-1.0 / b)
    g1 = rng.geometric(p, size=n)
    g2 = rng.geometric(p, size=n)
    return (g1 - g2).astype(np.int64)


def _sample_discrete_laplace(rng, t: float, n: int) -> np.ndarray:
    return _sample_two_sided_geometric(rng, t, n)


def _sample_discrete_gaussian(rng, sigma_sq: float, n: int) -> np.ndarray:
    """CKS20 rejection sampler: propose discrete Laplace(t), accept with
    probability exp(-(|x| - sigma^2/t)^2 / (2 sigma^2))."""
    t = max(1.0, math.floor(math.sqrt(sigma_sq)) + 1.0)
    out = np.empty(n, dtype=np.int64)
    filled = 0
    while filled < n:
        m = max(64, 2 * (n - filled))
        x = _sample_discrete_laplace(rng, t, m)
        accept_p = np.exp(-((np.abs(x) - sigma_sq / t) ** 2) / (2.0 * sigma_sq))
        keep = rng.random(m) < accept_p
        kept = x[keep]
        take = min(len(kept), n - filled)
        out[filled : filled + take] = kept[:take]
        filled += take
    return out


def noise_column(mechanism: NoiseMechanism, scale: float) -> Optional[Column]:
    """A Column of fresh noise (one draw per row), or None when scale == 0.

    The pandas UDF takes a dummy input series only to learn the batch
    length; all heavy lifting is vectorized numpy inside Arrow batches.
    """
    if scale == 0:
        return None
    if scale == float("inf"):
        raise ValueError("Cannot add infinite noise (zero budget on a finite query)")

    # Every sampler is marked nondeterministic: Catalyst must neither
    # collapse two references into one draw nor duplicate one reference
    # into two independent draws (e.g. when a SuppressAggregates filter
    # and the output projection both mention the noisy column, a
    # "deterministic" UDF would be inlined twice and the threshold
    # decision would use different noise than the released value).
    if mechanism is NoiseMechanism.GEOMETRIC:

        def _geo(s: pd.Series) -> pd.Series:
            return pd.Series(_sample_two_sided_geometric(_rng(), scale, len(s)))

        return pandas_udf(_geo, "long").asNondeterministic()(F.lit(0))
    if mechanism is NoiseMechanism.LAPLACE:

        def _lap(s: pd.Series) -> pd.Series:
            return pd.Series(_rng().laplace(0.0, scale, len(s)))

        return pandas_udf(_lap, "double").asNondeterministic()(F.lit(0))
    if mechanism is NoiseMechanism.GAUSSIAN:

        def _gau(s: pd.Series) -> pd.Series:
            return pd.Series(_rng().normal(0.0, scale, len(s)))

        return pandas_udf(_gau, "double").asNondeterministic()(F.lit(0))
    if mechanism is NoiseMechanism.DISCRETE_GAUSSIAN:
        sigma_sq = scale * scale

        def _dgau(s: pd.Series) -> pd.Series:
            return pd.Series(_sample_discrete_gaussian(_rng(), sigma_sq, len(s)))

        return pandas_udf(_dgau, "long").asNondeterministic()(F.lit(0))
    raise ValueError(f"Unknown mechanism {mechanism}")
