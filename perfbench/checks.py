"""Correctness checks, run after the timed phase.

* DP releases are compared with the exact (infinite-budget) answer that
  DuckDB computes on the same parquet files: the released group keys must
  equal the exact keys (a subset, for shapes that select groups), and each
  noisy value must lie within a stated tail bound of the exact value.
* Every session's remaining budget must equal its initial budget minus the
  analytic sum of what its queries and partitions asked for.
* Pipeline keys must equal their DuckDB oracle after the normalization the
  repository's oracle-parity tests use.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from fractions import Fraction

#: Tail multiple of the noise scale. Laplace/geometric noise exceeds
#: TAIL_Z * b with probability exp(-TAIL_Z) < 1.4e-11; Gaussian noise
#: exceeds TAIL_Z * sigma far less often.
TAIL_Z = 25.0
#: Aggregates split their budget over at most this many noisy
#: measurements; the noise scale below assumes the worst split.
MAX_SPLIT = 3


@dataclass(frozen=True)
class Budget:
    """A query budget as plain numbers: kind is pure, approx or zcdp."""

    kind: str
    value: float  # epsilon, or rho for zcdp
    delta: float = 0.0

    def make(self, ta):
        if self.kind == "pure":
            return ta.PureDPBudget(self.value)
        if self.kind == "approx":
            return ta.ApproxDPBudget(self.value, self.delta)
        return ta.RhoZCDPBudget(self.value)


def noise_scale(budget: Budget, sensitivity: float) -> float:
    """Upper bound on the noise scale (b or sigma) of one released value."""
    if budget.kind == "zcdp":
        return sensitivity * math.sqrt(MAX_SPLIT / (2.0 * budget.value))
    return sensitivity * MAX_SPLIT / budget.value


@dataclass(frozen=True)
class Measure:
    """How one output column is checked.

    ``additive``: |noisy - exact| <= TAIL_Z * scale(sensitivity).
    ``ranged``: the value lies in [lo, hi] and within ``tol`` * (hi - lo)
    of the exact value (ratios and quantiles, whose error is not additive).
    """

    column: str
    sensitivity: float = 0.0
    lo: float | None = None
    hi: float | None = None
    tol: float = 0.05

    def bound(self, budget: Budget) -> float:
        if self.lo is not None:
            return self.tol * (self.hi - self.lo)
        return TAIL_Z * noise_scale(budget, self.sensitivity)


def _norm_key(v):
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, (int, str)) or v is None:
        return v
    return str(v)


def _rows_by_key(df, keys: list[str], measures: list[str]) -> dict:
    out = {}
    for rec in df[keys + measures].itertuples(index=False, name=None):
        out[tuple(_norm_key(v) for v in rec[: len(keys)])] = rec[len(keys):]
    return out


def check_release(result, exact, measures: list[Measure], budget: Budget,
                  subset: bool = False) -> list[str]:
    """Errors in a noisy release (pandas) against the exact answer (pandas).

    Key columns are the exact answer's columns that are not measures. With
    ``subset`` the release may omit groups (threshold-selected shapes) but
    never add one.
    """
    cols = [m.column for m in measures]
    missing = [c for c in list(exact.columns) if c not in result.columns]
    if missing:
        return [f"missing columns {missing}"]
    keys = [c for c in exact.columns if c not in cols]
    got = _rows_by_key(result, keys, cols)
    want = _rows_by_key(exact, keys, cols)
    if len(got) != len(result):
        return ["duplicate group keys in release"]
    extra = set(got) - set(want)
    if extra:
        return [f"{len(extra)} released keys not in the keyset, e.g. "
                f"{sorted(extra, key=repr)[0]}"]
    if not subset and set(want) - set(got):
        lost = set(want) - set(got)
        return [f"{len(lost)} keyset keys not released, e.g. "
                f"{sorted(lost, key=repr)[0]}"]
    errors = []
    for i, m in enumerate(measures):
        bound = m.bound(budget)
        worst, worst_key = 0.0, None
        for k, vals in got.items():
            v, e = vals[i], want[k][i]
            if v is None or e is None or (isinstance(v, float) and math.isnan(v)):
                if not (v is None and e is None):
                    errors.append(f"{m.column}{k}: {v!r} vs exact {e!r}")
                continue
            v, e = float(v), float(e)
            if m.lo is not None and not (m.lo - 1e-9 <= v <= m.hi + 1e-9):
                errors.append(f"{m.column}{k}={v} outside [{m.lo}, {m.hi}]")
            if abs(v - e) > worst:
                worst, worst_key = abs(v - e), k
        if worst > bound:
            errors.append(
                f"{m.column}{worst_key}: |noisy - exact| = {worst:.6g} exceeds "
                f"tail bound {bound:.6g}")
    return errors


def _parts(budget) -> tuple:
    """(epsilon or rho, delta) of a package budget object, as Fractions."""
    if hasattr(budget, "rho"):
        return (Fraction(budget.rho), Fraction(0))
    return (Fraction(budget.epsilon), Fraction(getattr(budget, "delta", 0)))


def expected_remaining(initial: Budget, spent: list[Budget]) -> tuple:
    """Initial budget minus the analytic sum of ``spent``, exactly."""
    total = Fraction(initial.value)
    delta = Fraction(initial.delta)
    for b in spent:
        total -= Fraction(b.value)
        delta -= Fraction(b.delta)
    return (total, delta)


def check_budget(remaining, initial: Budget, spent: list[Budget]) -> list[str]:
    want = expected_remaining(initial, spent)
    got = _parts(remaining)
    if got != want:
        return [f"remaining budget {tuple(map(float, got))} != initial minus "
                f"spent {tuple(map(float, want))}"]
    return []


def normalize(rows, columns) -> list:
    """Order-insensitive row form: columns sorted by name, floats rounded
    to 6 places (the oracle-parity tests' normalization)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def check_rows(rows, columns, oracle_rows, oracle_columns) -> list[str]:
    if sorted(columns) != sorted(oracle_columns):
        return [f"columns {sorted(columns)} != oracle {sorted(oracle_columns)}"]
    got, want = normalize(rows, columns), normalize(oracle_rows, oracle_columns)
    if got != want:
        diff = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b),
                    min(len(got), len(want)))
        return [f"{len(got)} rows vs oracle {len(want)}; first difference at "
                f"row {diff}"]
    return []
