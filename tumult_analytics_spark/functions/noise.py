"""DP noise mechanisms: numpy samplers and one Arrow kernel that applies them.

The reference delegates noise to tmlt.core; here the samplers are
implemented directly in numpy and applied to the *aggregated* result, one
draw per released value, so noise costs O(#groups), never O(#rows).
``add_noise`` is the single kernel: it replaces every noisy column of an
Arrow table with column + draws. ``MeasurementResult.release``
(plans/compiler.py) runs it on the driver for a result of at most
``KEYSET_BROADCAST_LIMIT`` rows, collected once with ``toArrow()`` and
handed back to Spark as a local relation: plain data that no later action
can redraw. Above that cap, ``add_noise_batches`` runs the same kernel as
one ``mapInArrow`` pass, which the release pins with ``localCheckpoint``;
streaming DP counts use that pass too.

Every generator is seeded from OS entropy by ``_rng()``: tasks never share
a seed (SURVEY.md §4.4 pitfall).

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
from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame


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


def _sample_discrete_gaussian(rng, sigma_sq: float, n: int) -> np.ndarray:
    """CKS20 rejection sampler: propose discrete Laplace(t), accept with
    probability exp(-(|x| - sigma^2/t)^2 / (2 sigma^2))."""
    t = max(1.0, math.floor(math.sqrt(sigma_sq)) + 1.0)
    out = np.empty(n, dtype=np.int64)
    filled = 0
    while filled < n:
        m = max(64, 2 * (n - filled))
        x = _sample_two_sided_geometric(rng, t, m)
        accept_p = np.exp(-((np.abs(x) - sigma_sq / t) ** 2) / (2.0 * sigma_sq))
        keep = rng.random(m) < accept_p
        kept = x[keep]
        take = min(len(kept), n - filled)
        out[filled : filled + take] = kept[:take]
        filled += take
    return out


@dataclass(frozen=True)
class NoiseSpec:
    """Noise for one column of a noiseless aggregate: ``mechanism`` at
    ``scale`` (b for geometric/Laplace, sigma for the Gaussians)."""

    column: str
    mechanism: NoiseMechanism
    scale: float


def draw(
    mechanism: NoiseMechanism, scale: float, rng: np.random.Generator, n: int
) -> np.ndarray:
    """``n`` independent draws of ``mechanism`` at ``scale``."""
    if scale == float("inf"):
        raise ValueError("Cannot add infinite noise (zero budget on a finite query)")
    if mechanism is NoiseMechanism.GEOMETRIC:
        return _sample_two_sided_geometric(rng, scale, n)
    if mechanism is NoiseMechanism.LAPLACE:
        return rng.laplace(0.0, scale, n)
    if mechanism is NoiseMechanism.GAUSSIAN:
        return rng.normal(0.0, scale, n)
    if mechanism is NoiseMechanism.DISCRETE_GAUSSIAN:
        return _sample_discrete_gaussian(rng, scale * scale, n)
    raise ValueError(f"Unknown mechanism {mechanism}")


def add_noise(
    table: pa.Table, specs: Sequence[NoiseSpec], rng: np.random.Generator
) -> pa.Table:
    """``table`` with each spec's column replaced by column + one fresh
    draw per row. Integer mechanisms keep integer columns integral."""
    for s in specs:
        i = table.schema.get_field_index(s.column)
        noisy = pc.add(table.column(i), draw(s.mechanism, s.scale, rng, table.num_rows))
        table = table.set_column(i, table.schema.field(i), noisy)
    return table


def add_noise_batches(df: DataFrame, specs: Sequence[NoiseSpec]) -> DataFrame:
    """``add_noise`` as one Spark ``mapInArrow`` pass over ``df``, with one
    generator per task. The pass is a plan node, not an expression, so
    Catalyst never inlines it twice: a threshold filter and the released
    value read the same draw. Each action over the result draws again, so
    a batch caller pins it (``localCheckpoint``) before it is read twice."""
    specs = list(specs)

    def noisy(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rng = _rng()
        for b in batches:
            yield from add_noise(pa.Table.from_batches([b]), specs, rng).to_batches()

    return df.mapInArrow(noisy, df.schema)
