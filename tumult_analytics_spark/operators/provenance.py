"""Document-level pipeline provenance: the lineage every real data
team asks of a prep pipeline first — WHICH stage dropped a document,
WHICH keeper absorbed a duplicate, and the per-stage survival funnel.

Convention: an integer bitmask column (default ``stage_flags``) where
bit *i* set means "stage *i* would have dropped this row". Stages mark
instead of dropping, so one pass over the corpus yields the complete
funnel AND the surviving set (``stage_flags = 0``); the standard
drop-as-you-go pipeline remains the default everywhere else — these
wrappers are strictly opt-in, so an un-instrumented pipeline pays ZERO
overhead (no column, no extra expressions, identical plans).

Everything here is integer arithmetic (bit tests via ``%``/comparison,
no engine-specific bitwise ops), so any SQL engine replays the lineage
exactly. No reference-parity citation applies: the reference engine has
no pipeline layer at all; this follows the repo's stage-0 operator set.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..utils import local_frame

__all__ = [
    "mark_stage",
    "mark_duplicates",
    "provenance_funnel",
]

DEFAULT_FLAGS_COLUMN = "stage_flags"


def _ensure_flags(df: DataFrame, column: str) -> DataFrame:
    if column in df.columns:
        return df
    return df.withColumn(column, F.lit(0).cast("long"))


def mark_stage(
    df: DataFrame,
    bit: int,
    drop_condition: Column,
    column: str = DEFAULT_FLAGS_COLUMN,
) -> DataFrame:
    """Set bit ``bit`` of the provenance bitmask for rows matching
    ``drop_condition`` (the rows the stage WOULD drop). Null conditions
    count as not-dropped. Pure projection — zero shuffles; the filter
    the stage would have run becomes one integer expression."""
    if not 0 <= bit < 62:
        raise ValueError("bit must be in [0, 62)")
    out = _ensure_flags(df, column)
    # bitwiseOR, not +: marking the same bit twice (two conditions
    # mapped to one stage) must be idempotent, never carry into the
    # next stage's bit.
    return out.withColumn(
        column,
        F.when(
            F.coalesce(drop_condition, F.lit(False)),
            F.col(column).bitwiseOR(F.lit(1 << bit)),
        ).otherwise(F.col(column)),
    )


def mark_duplicates(
    df: DataFrame,
    keys: "list[str]",
    id_column: str,
    bit: int,
    column: str = DEFAULT_FLAGS_COLUMN,
    dup_of_column: str = "dup_of",
) -> DataFrame:
    """Provenance-mode exact dedup: instead of keeping first occurrence
    and dropping the rest (``dedup.dedup_exact``), mark every
    non-keeper with ``bit`` and record WHICH keeper absorbed it in
    ``dup_of_column`` (null for keepers/uniques). Keeper = minimum
    ``id_column`` within the key group — the same deterministic winner
    the drop-mode operator keeps, so the surviving set is identical.

    One shuffle (window by the dedup keys), same as the drop-mode
    operator — provenance costs no extra exchange.

    Scale note: the window exchange carries EVERY column of ``df``
    and the raw partition keys. For wide rows (full pages, raw
    text), project the payload columns away first and pass a hashed
    key (e.g. ``F.md5(t)``) instead of the raw text — the funnel
    downstream only needs the flags/dup_of columns, and the md5
    equivalence is the same one exact-fingerprint dedup relies on.
    Measured at sf100: the slim form is the difference between a
    ~3×-payload exchange and a 16-bytes-per-row one (SF1.md)."""
    if not 0 <= bit < 62:
        raise ValueError("bit must be in [0, 62)")
    out = _ensure_flags(df, column)
    w = Window.partitionBy(*keys)
    keeper = F.min(id_column).over(w)
    is_dup = F.col(id_column) != keeper
    return out.withColumn(
        dup_of_column, F.when(is_dup, keeper)
    ).withColumn(
        column,
        F.when(
            is_dup, F.col(column).bitwiseOR(F.lit(1 << bit))
        ).otherwise(F.col(column)),
    )


def provenance_funnel(
    df: DataFrame,
    stage_names: "List[str]",
    column: str = DEFAULT_FLAGS_COLUMN,
) -> DataFrame:
    """Per-stage survival funnel from the bitmask, in ONE aggregation
    pass: for stage *i*, ``n_dropped_here`` counts rows whose LOWEST
    set bit is *i* (the stage that actually removed them from the
    funnel — later-stage flags on an already-dead row don't
    double-count), and ``n_remaining`` counts rows with no bit <= *i*
    set (survivors after the stage). Bit tests are pure integer
    arithmetic: lowest-set-bit == i  <=>  flags % 2^(i+1) == 2^i.

    Returns one row per stage: (stage int, stage_name, n_dropped_here,
    n_remaining). The single wide aggregate collapses map-side; the
    driver reshapes one row of 2K scalars — bounded, like the GD
    trainers' per-step exchange."""
    k = len(stage_names)
    if k < 1:
        raise ValueError("stage_names must be non-empty")
    if k > 61:
        raise ValueError("at most 61 stages")
    flags = F.col(column)
    aggs = []
    for i in range(k):
        lo, hi = 1 << i, 1 << (i + 1)
        aggs.append(
            F.sum((flags % hi == lo).cast("long")).alias(f"d{i}")
        )
        aggs.append(
            F.sum((flags % hi == 0).cast("long")).alias(f"r{i}")
        )
    row = df.agg(*aggs).collect()[0]
    rows = [
        (i, stage_names[i], int(row[f"d{i}"]), int(row[f"r{i}"]))
        for i in range(k)
    ]
    return local_frame(
        df.sparkSession,
        rows,
        "stage int, stage_name string, n_dropped_here long, "
        "n_remaining long",
    )
