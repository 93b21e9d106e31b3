"""Constraints on privacy-ID tables, and truncation strategies for private
joins on non-ID tables.

Fresh implementation of the semantics at
``/root/reference/src/tmlt/analytics/constraints/_truncation.py`` (MaxRowsPerID
:84, MaxGroupsPerID :162, MaxRowsPerGroupPerID :275, simplification :50-80)
and ``truncation_strategy.py`` (DropExcess :38, DropNonUnique :89).

Enforcement is Spark-native and deterministic independent of row order /
partitioning. MaxRowsPerID, MaxRowsPerGroupPerID and DropExcess share one
step, ``_keep_first``: rank rows within each key by ``xxhash64`` over the
full row (a total order that does not depend on input order) and keep the
first ``n``. That is a single hash-partitioned shuffle per enforcement; hot
keys are left to AQE. MaxGroupsPerID (dense rank over group hashes) and
DropNonUnique (count window) keep their own rules.
"""

from __future__ import annotations

from abc import ABC
from dataclasses import dataclass
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class Constraint(ABC):
    """A bound on the influence of one privacy ID."""


@dataclass(frozen=True)
class MaxRowsPerID(Constraint):
    """Each privacy ID contributes at most ``max`` rows."""

    max: int

    def __post_init__(self):
        if self.max < 1:
            raise ValueError("max must be a positive integer")


@dataclass(frozen=True)
class MaxGroupsPerID(Constraint):
    """Each privacy ID appears in at most ``max`` distinct values of
    ``grouping_column``."""

    grouping_column: str
    max: int

    def __post_init__(self):
        if self.max < 1:
            raise ValueError("max must be a positive integer")


@dataclass(frozen=True)
class MaxRowsPerGroupPerID(Constraint):
    """Each privacy ID contributes at most ``max`` rows to each value of
    ``grouping_column``."""

    grouping_column: str
    max: int

    def __post_init__(self):
        if self.max < 1:
            raise ValueError("max must be a positive integer")


def simplify_constraints(constraints: Sequence[Constraint]) -> List[Constraint]:
    """Drop redundant constraints: keep the min MaxRowsPerID, and per
    grouping column the min MaxGroupsPerID / MaxRowsPerGroupPerID
    (reference constraints/_truncation.py:50-80)."""
    best_rows: Optional[MaxRowsPerID] = None
    best_groups: dict = {}
    best_rows_per_group: dict = {}
    for c in constraints:
        if isinstance(c, MaxRowsPerID):
            if best_rows is None or c.max < best_rows.max:
                best_rows = c
        elif isinstance(c, MaxGroupsPerID):
            cur = best_groups.get(c.grouping_column)
            if cur is None or c.max < cur.max:
                best_groups[c.grouping_column] = c
        elif isinstance(c, MaxRowsPerGroupPerID):
            cur = best_rows_per_group.get(c.grouping_column)
            if cur is None or c.max < cur.max:
                best_rows_per_group[c.grouping_column] = c
    out: List[Constraint] = []
    if best_rows:
        out.append(best_rows)
    out.extend(best_groups.values())
    out.extend(best_rows_per_group.values())
    return out


def _keep_first(df: DataFrame, key_cols: Sequence[str], n: int) -> DataFrame:
    """Keep the first ``n`` rows per ``key_cols`` value, ordered by a
    hash of the full row.

    Hashing all columns satisfies the determinism contract of reference
    truncation_strategy.py:42-45; a monotonically-increasing id or F.rand
    would not.

    Scale-critical (round-10 sf100 finding): the hash is materialized as
    a COLUMN before the window. Ordering the window directly by
    ``xxhash64(*all_columns)`` makes the Sort evaluate the hash AFTER the
    exchange, so every input column is required below the sort and
    Catalyst cannot prune — a 600M-row truncation shuffles the full
    16-column lineitem row (~150 B) where the downstream query needs 2
    columns. With the hash projected map-side first, the window orders by
    one 8-byte column and ColumnPruning trims the exchange to (key, hash,
    downstream columns) — measured 397 -> 79 s on private_join_count at
    sf100.
    """
    hashed = df.withColumn(
        "__row_order_h__", F.xxhash64(*[F.col(c) for c in df.columns])
    )
    w = Window.partitionBy(*key_cols).orderBy(F.col("__row_order_h__"))
    return (
        hashed.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= n)
        .drop("__rn__", "__row_order_h__")
    )


def truncate_max_rows_per_id(df: DataFrame, id_column: str, max_rows: int) -> DataFrame:
    """Keep at most ``max_rows`` rows per privacy ID, deterministically."""
    return _keep_first(df, [id_column], max_rows)


def truncate_max_groups_per_id(
    df: DataFrame, id_column: str, grouping_column: str, max_groups: int
) -> DataFrame:
    """Keep rows belonging to at most ``max_groups`` distinct grouping values
    per ID (deterministic choice via hash rank over group values)."""
    w = Window.partitionBy(id_column).orderBy(
        F.xxhash64(F.col(grouping_column)), F.col(grouping_column)
    )
    return (
        df.withColumn("__gr__", F.dense_rank().over(w))
        .filter(F.col("__gr__") <= max_groups)
        .drop("__gr__")
    )


def truncate_max_rows_per_group_per_id(
    df: DataFrame, id_column: str, grouping_column: str, max_rows: int
) -> DataFrame:
    """Keep at most ``max_rows`` rows per (ID, group), deterministically."""
    return _keep_first(df, [id_column, grouping_column], max_rows)


class TruncationStrategy:
    """How to truncate one side of a non-ID private join.

    Join sensitivity (reference truncation_strategy.py:17-31):
    ``sensitivity = T_left*S_right*M_left + T_right*S_left*M_right`` where
    T = truncation threshold (1 for DropNonUnique), S = strategy stability
    (2 for DropExcess, 1 for DropNonUnique), M = d_in of each side.
    """

    class Type(ABC):
        """Base type for truncation strategy variants."""

    @dataclass(frozen=True)
    class DropExcess(Type):
        """Keep at most ``max_rows`` rows per join key, deterministically
        (hash-rank, independent of input row order)."""

        max_rows: int

        def __post_init__(self):
            if self.max_rows < 1:
                raise ValueError("At least one row must be kept per join key")

        @property
        def threshold(self) -> int:
            return self.max_rows

        @property
        def stability(self) -> int:
            return 2

    @dataclass(frozen=True)
    class DropNonUnique(Type):
        """Drop all rows whose join key appears more than once."""

        @property
        def threshold(self) -> int:
            return 1

        @property
        def stability(self) -> int:
            return 1


DropExcess = TruncationStrategy.DropExcess
DropNonUnique = TruncationStrategy.DropNonUnique


def apply_truncation(
    df: DataFrame, join_columns: Sequence[str], strategy: "TruncationStrategy.Type"
) -> DataFrame:
    """Apply a join truncation strategy over the join key columns.

    Post-truncation each key carries at most ``max_rows``/1 rows per side,
    so the join fan-out is bounded; a hot key is split by AQE's skew-join
    (`spark.sql.adaptive.skewJoin.enabled`, on by default).
    """
    if isinstance(strategy, DropExcess):
        return _keep_first(df, join_columns, strategy.max_rows)
    if isinstance(strategy, DropNonUnique):
        w = Window.partitionBy(*join_columns)
        return (
            df.withColumn("__cnt__", F.count(F.lit(1)).over(w))
            .filter(F.col("__cnt__") == 1)
            .drop("__cnt__")
        )
    raise TypeError(f"Unknown truncation strategy: {strategy!r}")


def join_truncation_stability(
    left: "TruncationStrategy.Type",
    right: "TruncationStrategy.Type",
    d_left: float,
    d_right: float,
) -> float:
    """Sensitivity of a truncated private join, exactly the documented
    reference formula (truncation_strategy.py:17-31):
    ``T_left*S_right*M_left + T_right*S_left*M_right``."""
    return (
        left.threshold * right.stability * d_left
        + right.threshold * left.stability * d_right
    )
