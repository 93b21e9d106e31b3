"""QueryExpr -> PySpark compiler with stability tracking.

This replaces both reference layers (the analytics visitors AND tmlt.core's
Transformation/Measurement objects) with one Spark-first compile pass:

- every relational op is a stock DataFrame op (filter/select/join/groupBy),
  declared lazily so Catalyst does pushdown, pruning, join selection, AQE;
- stability (d_in) is tracked driver-side as an (L1, L2) pair per table,
  per reference semantics (_base_transformation_visitor.py,
  _constraint_propagation.py);
- aggregations compile to: [semi-join filter to keyset] -> groupBy().agg()
  (map-side partial aggregation) -> broadcast join with the keyset ->
  zero fill; ``MeasurementResult.release`` then adds the noise. The
  base-table scan is the only big shuffle; the keyset side is broadcast.

Scale notes (100 TB): the semi-join against the keyset is a broadcast
hash join that prunes rows *before* the aggregation shuffle; the
aggregation itself benefits from partial (map-side) aggregation; the final
keyset join touches only #groups rows. Python UDFs appear solely in
user-supplied map/flat_map and in per-group stages (O(#groups) rows).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field, replace as dc_replace
from fractions import Fraction
from typing import Any, Callable, Dict, Iterator, List, Optional, Sequence, Tuple, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..budget import ApproxDPBudget, PrivacyBudget, PureDPBudget, RhoZCDPBudget
from ..constraints import (
    Constraint,
    MaxGroupsPerID,
    MaxRowsPerGroupPerID,
    MaxRowsPerID,
    apply_truncation,
    join_truncation_stability,
    simplify_constraints,
    truncate_max_groups_per_id,
    truncate_max_rows_per_group_per_id,
    truncate_max_rows_per_id,
)
from ..functions.noise import (
    NoiseInfo,
    NoiseMechanism,
    NoiseSpec,
    _rng,
    add_noise,
    add_noise_batches,
)
from ..keyset import KeySet, _FromTuples
from ..protected import (
    AddMaxRows,
    AddMaxRowsInMaxGroups,
    AddRowsWithID,
    ProtectedChange,
)
from ..schema import (
    SPARK_TYPE,
    AnalyticsDefault,
    AnalyticsInternalError,
    ColumnType,
    Schema,
    schema_from_spark,
)
from ..utils import local_frame, nullsafe_join, spread_rows
from . import expr as E

# ---------------------------------------------------------------------------
# Compiled-table state


@dataclass
class CompiledTable:
    """A DataFrame plus privacy bookkeeping flowing through the compile."""

    df: DataFrame
    schema: Schema
    l1: float  # stability under L1 / SymmetricDifference
    l2: float  # stability under L2 (differs after grouping flat maps)
    is_ids: bool = False  # AddRemoveKeys metric (privacy-ID table)
    constraints: List[Constraint] = dc_field(default_factory=list)


@dataclass
class SourceTable:
    df: DataFrame
    schema: Schema
    protected_change: ProtectedChange


@dataclass
class CompileContext:
    private_tables: Dict[str, "SourceTable"]
    public_tables: Dict[str, DataFrame]
    catalog: Dict[str, Schema]
    #: When the evaluation budget is infinite, noise is zero, so eager Spark
    #: jobs that only refine sensitivity (public-join multiplicity) skip.
    budget_is_infinite: bool = False
    #: Introspection compile (_noise_info): never run Spark jobs — skip
    #: eager materialization of noisy intermediates (the plan is only
    #: inspected, never executed).
    introspection_only: bool = False
    #: Views: name -> already-compiled table produced by create_view.
    views: Dict[str, CompiledTable] = dc_field(default_factory=dict)
    #: id(Map/FlatMap node) -> output columns the plan above actually
    #: consumes. Catalyst cannot prune columns through an opaque
    #: mapInPandas; this layer can, because it holds the logical tree.
    pruned_outputs: Dict[int, frozenset] = dc_field(default_factory=dict)
    #: source_id -> constraints already known to hold on the registered
    #: data (partition_and_create children inherit the parent's enforced
    #: truncations).
    source_constraints: Dict[str, List[Constraint]] = dc_field(default_factory=dict)


def initial_table(src: SourceTable) -> CompiledTable:
    pc = src.protected_change
    if isinstance(pc, AddRowsWithID):
        return CompiledTable(src.df, src.schema, 1.0, 1.0, is_ids=True)
    if isinstance(pc, AddMaxRowsInMaxGroups):
        return CompiledTable(
            src.df, src.schema, float(pc.l1_stability), float(pc.l2_stability)
        )
    if isinstance(pc, AddMaxRows):
        return CompiledTable(src.df, src.schema, float(pc.max_rows), float(pc.max_rows))
    raise TypeError(f"Unknown protected change {pc!r}")


# ---------------------------------------------------------------------------
# Row-UDF helpers (the only places Python touches per-row data)


def _spark_schema_for(schema: Schema) -> T.StructType:
    return T.StructType(
        [T.StructField(c, SPARK_TYPE[d.column_type], True) for c, d in schema.items()]
    )


def _coerce_out(pdf: pd.DataFrame, schema: Schema) -> pd.DataFrame:
    """Best-effort dtype fixing so Arrow conversion accepts UDF output.

    Dtype-guarded: a column already at the target numpy dtype is left
    untouched — ``astype`` always copies, and the nullable ``Int64``
    extension dtype costs ~3x plain int64 through Arrow, so it is only
    used when the column actually needs null handling (object dtype or
    float-with-NaN from missing values)."""
    for c, d in schema.items():
        if c not in pdf.columns:
            pdf[c] = None
        try:
            kind = pdf[c].dtype.kind
            if d.column_type is ColumnType.INTEGER:
                if kind not in ("i", "u"):
                    pdf[c] = pdf[c].astype("Int64")
            elif d.column_type is ColumnType.DECIMAL:
                if kind != "f":
                    pdf[c] = pdf[c].astype("float64")
        except (TypeError, ValueError):
            pass
    return pdf[list(schema.columns)]


def _restrict_schema(schema: Schema, keep) -> Schema:
    """Schema narrowed to ``keep`` (order preserved); None = unchanged."""
    if keep is None:
        return schema
    return Schema(
        {c: d for c, d in schema.items() if c in keep},
        grouping_column=schema.grouping_column
        if schema.grouping_column in keep
        else None,
        id_column=schema.id_column if schema.id_column in keep else None,
        id_space=schema.id_space if schema.id_column in keep else None,
    )


class _BatchCols:
    """Lazily materialized column store for one Arrow batch: a column is
    converted to Python scalars (``tolist()``, same native values as the
    old eager dict build) only when some row first reads it. The engine
    cannot know which input columns a row UDF touches, so the eager
    full-width conversion paid ~10us+/row for EVERY column on every row;
    real UDFs read a few columns of a wide input (guide §4: pass only
    the columns the function needs — applied at the conversion layer)."""

    __slots__ = ("_pdf", "_data", "names", "name_set")

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf
        self._data: dict = {}
        self.names = list(pdf.columns)
        self.name_set = frozenset(self.names)

    def col(self, k):
        v = self._data.get(k)
        if v is None:
            if k not in self.name_set:
                raise KeyError(k)
            v = self._pdf[k].tolist()
            self._data[k] = v
        return v


class _LazyRow(dict):
    """One row as a dict that materializes base-column values on first
    access. Subclassing ``dict`` keeps full dict semantics for user
    functions (mutation, ``dict(row)``, ``pd.DataFrame([row])``): reads
    of keys not yet in the dict fall through to the batch store via
    ``__missing__``; writes behave natively; deletions of not-yet-pulled
    base keys are recorded so they never reappear. Whole-row operations
    (``iter``/``len``/``keys``/``items``/``==``/``repr``/``copy``) pull
    every remaining base column first — cheap, the values come from the
    shared per-column lists. Overriding ``__iter__`` also disables
    CPython's dict fast-merge path, so ``dict(row)``/``update`` go
    through ``keys()`` and see the pulled view."""

    __slots__ = ("_b", "_i", "_pulled", "_deleted")

    def __init__(self, b: _BatchCols, i: int):
        super().__init__()
        self._b = b
        self._i = i
        self._pulled = False
        self._deleted: Optional[set] = None

    def __missing__(self, k):
        # Only called by dict.__getitem__ when k is absent from the dict.
        if self._pulled or (self._deleted is not None and k in self._deleted):
            raise KeyError(k)
        v = self._b.col(k)[self._i]  # KeyError for unknown columns
        dict.__setitem__(self, k, v)
        return v

    def _pull_all(self):
        if not self._pulled:
            b, i = self._b, self._i
            dele = self._deleted
            for k in b.names:
                if not dict.__contains__(self, k) and (
                    dele is None or k not in dele
                ):
                    dict.__setitem__(self, k, b.col(k)[i])
            self._pulled = True

    def get(self, k, default=None):
        try:
            return self[k]
        except KeyError:
            return default

    def __contains__(self, k):
        if dict.__contains__(self, k):
            return True
        if self._pulled:
            return False
        if self._deleted is not None and k in self._deleted:
            return False
        return k in self._b.name_set

    def __delitem__(self, k):
        had = dict.__contains__(self, k)
        if had:
            dict.__delitem__(self, k)
        if not self._pulled and k in self._b.name_set:
            if self._deleted is None:
                self._deleted = set()
            self._deleted.add(k)
        elif not had:
            raise KeyError(k)

    def pop(self, k, *default):
        try:
            v = self[k]
        except KeyError:
            if default:
                return default[0]
            raise
        del self[k]
        return v

    def setdefault(self, k, default=None):
        try:
            return self[k]
        except KeyError:
            self[k] = default
            return default

    def __iter__(self):
        self._pull_all()
        return dict.__iter__(self)

    def __len__(self):
        self._pull_all()
        return dict.__len__(self)

    def keys(self):
        self._pull_all()
        return dict.keys(self)

    def values(self):
        self._pull_all()
        return dict.values(self)

    def items(self):
        self._pull_all()
        return dict.items(self)

    def __eq__(self, other):
        self._pull_all()
        if isinstance(other, _LazyRow):
            other._pull_all()
        return dict.__eq__(self, other)

    def __ne__(self, other):
        eq = self.__eq__(other)
        return eq if eq is NotImplemented else not eq

    __hash__ = None  # type: ignore[assignment]  # dicts are unhashable

    def __repr__(self):
        self._pull_all()
        return dict.__repr__(self)

    def copy(self):
        self._pull_all()
        return dict(self)


def _row_dicts(pdf: pd.DataFrame) -> list:
    """Rows as lazily-materializing dicts (see :class:`_LazyRow`)."""
    b = _BatchCols(pdf)
    return [_LazyRow(b, i) for i in range(len(pdf))]


def _frame_from_rows(produced: list) -> pd.DataFrame:
    """DataFrame from a list of row mappings, column-at-a-time:
    ``pd.DataFrame(list_of_dicts)`` walks a slow inference path; building
    each column with one comprehension over ``.get`` is ~2x faster and
    yields None (not NaN) for missing keys — identical after coercion.
    Column order = first-seen key order, matching the old constructor."""
    cols: dict = {}
    for d in produced:
        for k in d:
            if k not in cols:
                cols[k] = None
    if not cols:
        return pd.DataFrame(index=range(len(produced)))
    return pd.DataFrame(
        {k: [d.get(k) for d in produced] for k in cols},
        columns=list(cols),
    )


def compile_map(
    df: DataFrame,
    f: Callable,
    out_schema: Schema,
    augment: bool,
    keep=None,
    vectorized: bool = False,
) -> DataFrame:
    """Row->row Python UDF via mapInPandas (Arrow batches, not per-row).

    ``keep`` (from the column-pruning pass) narrows the UDF OUTPUT to the
    columns the plan above consumes — Catalyst cannot see through the
    Python boundary, so this projection pushdown happens here.

    ``vectorized``: f is a pandas-batch function — f(batch_pdf) returns
    the new columns (DataFrame or dict of arrays) with the batch's
    length/order. Skips the per-row dict conversion entirely.
    """
    if not vectorized:
        # Row-dict UDFs cost ~10us+/row of Python, so a few-file scan is
        # spread over the cores first. Vectorized kernels skip it: their
        # per-row cost is small enough that the added AQE stage outweighs
        # the parallelism.
        df = spread_rows(df)
    out_schema = _restrict_schema(out_schema, keep)
    spark_schema = _spark_schema_for(out_schema)
    out_cols = list(out_schema.columns)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if vectorized:
                # Snapshot only the input columns the augment below reuses
                # BEFORE handing the frame to f (so user mutation cannot
                # corrupt them) — the old full pdf.copy() deep-copied every
                # column of a possibly wide input per batch.
                base_in = (
                    pdf[[c for c in pdf.columns if c in out_cols]].copy()
                    if augment
                    else None
                )
                produced_v = f(pdf)
                new_df = (
                    produced_v
                    if isinstance(produced_v, pd.DataFrame)
                    else pd.DataFrame(produced_v)
                )
                if len(new_df) != len(pdf):
                    raise ValueError(
                        "vectorized map must return one output row per "
                        f"input row (got {len(new_df)} for {len(pdf)})"
                    )
                new_df = new_df.reset_index(drop=True)
            else:
                base_in = pdf
                produced = [f(r) for r in _row_dicts(pdf)]
                new_df = _frame_from_rows(produced)
            if augment:
                # Columnar assembly: carry only the input columns that
                # survive pruning, attach new columns — no per-row merges.
                base = base_in[
                    [c for c in base_in.columns
                     if c in out_cols and c not in new_df.columns]
                ]
                out = pd.concat(
                    [base.reset_index(drop=True), new_df], axis=1
                )
            else:
                out = new_df
            yield _coerce_out(out.reindex(columns=out_cols), out_schema)

    return df.mapInPandas(fn, spark_schema)


def compile_flat_map(
    df: DataFrame,
    f: Callable,
    out_schema: Schema,
    augment: bool,
    max_rows: Optional[int],
    keep=None,
    vectorized: bool = False,
) -> DataFrame:
    """Row->rows UDTF via mapInPandas.

    ``vectorized``: f(batch_pdf) returns (counts, new_columns) where
    counts[i] is the number of output rows for batch row i and the new
    columns hold all outputs in order. ``max_rows`` is enforced HERE
    (engine-side segment trim) — the DP stability bound cannot depend on
    the user function honoring its contract.
    """
    if not vectorized:
        df = spread_rows(df)  # as in compile_map
    out_schema = _restrict_schema(out_schema, keep)
    spark_schema = _spark_schema_for(out_schema)
    out_cols = list(out_schema.columns)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if vectorized:
                # Snapshot the augment-carried input columns before f
                # (mutation safety) instead of deep-copying the whole
                # possibly-wide batch.
                base_in = (
                    pdf[[c for c in pdf.columns if c in out_cols]].copy()
                    if augment
                    else None
                )
                counts_v, produced_v = f(pdf)
                counts = np.asarray(counts_v, dtype=np.int64)
                new_df = (
                    produced_v
                    if isinstance(produced_v, pd.DataFrame)
                    else pd.DataFrame(produced_v)
                ).reset_index(drop=True)
                if counts.shape[0] != len(pdf) or counts.sum() != len(new_df):
                    raise ValueError(
                        "vectorized flat_map: counts must have one entry "
                        "per input row and sum to the output length"
                    )
                if max_rows is not None and len(new_df):
                    starts = np.repeat(
                        np.concatenate([[0], np.cumsum(counts)[:-1]]), counts
                    )
                    offsets = np.arange(len(new_df)) - starts
                    mask = offsets < max_rows
                    new_df = new_df[mask].reset_index(drop=True)
                    counts = np.minimum(counts, max_rows)
            else:
                base_in = pdf
                per_row = []
                for r in _row_dicts(pdf):
                    produced = f(r)
                    if max_rows is not None:
                        produced = produced[:max_rows]
                    per_row.append(produced)
                flat = [res for lst in per_row for res in lst]
                new_df = _frame_from_rows(flat)
                counts = np.fromiter(
                    (len(lst) for lst in per_row),
                    dtype=np.int64,
                    count=len(per_row),
                )
            if augment:
                # Replicate each input row len(output) times with one
                # vectorized take, then attach new columns columnar —
                # ~10x faster than building row dicts for every output.
                # Only the input columns that survive pruning are carried.
                base_cols = [
                    c for c in base_in.columns
                    if c in out_cols and c not in new_df.columns
                ]
                base = base_in[base_cols].iloc[
                    np.repeat(np.arange(len(base_in)), counts)
                ].reset_index(drop=True)
                out = pd.concat([base, new_df], axis=1)
            else:
                out = new_df
            yield _coerce_out(out.reindex(columns=out_cols), out_schema)

    return df.mapInPandas(fn, spark_schema)


def compile_flat_map_by_id(
    df: DataFrame, f: Callable, id_column: str, out_schema: Schema, keep=None
) -> DataFrame:
    """All rows of one privacy ID -> new rows; ID column reattached.

    One hash shuffle on the ID plus a per-partition ID sort, then ONE
    mapInPandas kernel that slices each Arrow batch into ID runs with
    numpy and builds ONE output frame per batch. The obvious
    ``groupBy(id).applyInPandas`` shape pays a per-GROUP fixed cost
    (one Arrow slice, one fn dispatch, one pandas frame in AND out per
    ID — guide-§2.3's "ships every row" shape); with millions of tiny
    ID groups that overhead dominates the user function (measured
    3.3 s -> 1.9 s on 1500 groups x 67 rows at sf0.1; r10). A run can
    span two Arrow batches, so the kernel carries the open tail group
    across batch boundaries; hash partitioning guarantees an ID never
    spans tasks. Same groups, same rows — within-group row order is
    unspecified in both shapes (distributed shuffle order).
    """
    import numpy as np

    out_schema = _restrict_schema(out_schema, keep)
    spark_schema = _spark_schema_for(out_schema)
    out_cols = list(out_schema.columns)
    new_cols = [c for c in out_cols if c != id_column]

    def _run_starts(ids: "pd.Series") -> "np.ndarray":
        """Start offset of each equal-ID run (SQL semantics: nulls are
        one group, never boundaries between equal nulls)."""
        cur, prev = ids, ids.shift()
        change = (cur != prev) & ~(cur.isna() & prev.isna())
        change.iloc[0] = True
        return np.nonzero(change.to_numpy())[0]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Open tail run held as a LIST of chunks, concatenated once when
        # the run closes: re-concatenating the pending frame into every
        # new batch would copy O(m^2) bytes for one ID group spanning m
        # batches (r10 verdict #5 — a single pathological hot ID).
        pending_chunks: List[pd.DataFrame] = []

        def group_out(gpdf: pd.DataFrame, rows: list, ids_out: list) -> None:
            key = gpdf[id_column].iloc[0]
            key = None if pd.isna(key) else key
            for r in f(_row_dicts(gpdf)) or []:
                rows.append(r)
                ids_out.append(key)

        def flush_pending(rows: list, ids_out: list) -> None:
            if not pending_chunks:
                return
            g = (
                pending_chunks[0]
                if len(pending_chunks) == 1
                else pd.concat(pending_chunks, ignore_index=True)
            )
            pending_chunks.clear()
            group_out(g, rows, ids_out)

        def assemble(rows: list, ids_out: list) -> pd.DataFrame:
            out = pd.DataFrame(
                [{id_column: i, **{c: r.get(c) for c in new_cols}}
                 for i, r in zip(ids_out, rows)],
                columns=out_cols,
            )
            return _coerce_out(out, out_schema)

        for pdf in batches:
            if not len(pdf):
                continue
            rows: list = []
            ids_out: list = []
            starts = _run_starts(pdf[id_column])
            first_idx = 0
            if pending_chunks:
                pk = pending_chunks[0][id_column].iloc[0]
                fk = pdf[id_column].iloc[0]
                same = (pd.isna(pk) and pd.isna(fk)) or (
                    not pd.isna(pk) and not pd.isna(fk) and pk == fk
                )
                if same:
                    if starts.shape[0] == 1:
                        # Whole batch continues the open run: defer it.
                        pending_chunks.append(pdf.reset_index(drop=True))
                        continue
                    # First run closes the open run.
                    pending_chunks.append(
                        pdf.iloc[: starts[1]].reset_index(drop=True)
                    )
                    flush_pending(rows, ids_out)
                    first_idx = 1
                else:
                    flush_pending(rows, ids_out)
            for s, e in zip(starts[first_idx:-1], starts[first_idx + 1:]):
                group_out(pdf.iloc[s:e], rows, ids_out)
            # The last run may continue in the next batch: hold it back.
            pending_chunks.append(pdf.iloc[starts[-1]:].reset_index(drop=True))
            if rows:
                yield assemble(rows, ids_out)
        if pending_chunks:
            rows, ids_out = [], []
            flush_pending(rows, ids_out)
            if rows:
                yield assemble(rows, ids_out)

    return (
        df.repartition(id_column)
        .sortWithinPartitions(id_column)
        .mapInPandas(fn, spark_schema)
    )


# ---------------------------------------------------------------------------
# Special-value column expressions


def _replace_null_nan_col(c: str, ctype: ColumnType, value) -> F.Column:
    col = F.col(c)
    if ctype is ColumnType.DECIMAL:
        return F.when(col.isNull() | F.isnan(col), F.lit(value)).otherwise(col)
    return F.when(col.isNull(), F.lit(value)).otherwise(col)


def _replace_inf_col(c: str, lo: float, hi: float) -> F.Column:
    col = F.col(c)
    return (
        F.when(col == float("inf"), F.lit(hi))
        .when(col == float("-inf"), F.lit(lo))
        .otherwise(col)
    )


# ---------------------------------------------------------------------------
# Column pruning across Python UDF boundaries


def _idents(condition: str) -> frozenset:
    """Conservative superset of column names referenced by a Spark-SQL
    expression string (plain identifier scan; over-approximating keeps
    more columns, never breaks correctness)."""
    import re

    return frozenset(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", condition))


def compute_pruned_outputs(
    expr: E.QueryExpr,
    catalog: Dict[str, Schema],
    required: Optional[frozenset],
    out: Dict[int, frozenset],
) -> None:
    """Annotate Map/FlatMap/FlatMapByID nodes with the set of output
    columns consumed above them (projection pushdown through the UDF
    boundary). ``required=None`` means "all columns" and disables pruning
    below that point."""
    if isinstance(expr, (E.Map, E.FlatMap, E.FlatMapByID)):
        if required is not None:
            try:
                cs = expr.schema(catalog)
            except Exception:
                cs = None
            if cs is not None:
                keep = set(required)
                if cs.id_column:
                    keep.add(cs.id_column)
                if cs.grouping_column:
                    keep.add(cs.grouping_column)
                out[id(expr)] = frozenset(c for c in cs.columns if c in keep)
        # The UDF may read any input column: everything below stays wide.
        compute_pruned_outputs(expr.child, catalog, None, out)
        return
    if isinstance(expr, E.Filter):
        child_req = (
            None if required is None else required | _idents(expr.condition)
        )
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, E.Select):
        # A select's output is exactly its column list, whatever the
        # parent needs.
        compute_pruned_outputs(
            expr.child, catalog, frozenset(expr.columns), out
        )
        return
    if isinstance(expr, E.Rename):
        if required is None:
            child_req = None
        else:
            inv = {v: k for k, v in dict(expr.column_mapper).items()}
            child_req = frozenset(inv.get(c, c) for c in required)
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, (E.ReplaceNullAndNan, E.ReplaceInfinity)):
        targets = frozenset(c for c, _ in expr.replace_with)
        # Empty replace_with targets every eligible column: stay wide.
        child_req = None if (required is None or not targets) else required | targets
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, (E.DropNullAndNan, E.DropInfinity)):
        cols = frozenset(expr.columns)
        child_req = None if (required is None or not cols) else required | cols
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, E.BinColumn):
        if required is None:
            child_req = None
        else:
            outname = expr.name or f"{expr.column}_binned"
            child_req = (required - {outname}) | {expr.column}
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, E.EnforceConstraint):
        c = expr.constraint
        extra = {getattr(c, "grouping_column", None)} - {None}
        child_req = None if required is None else required | extra
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, E.JoinPrivate):
        jc = frozenset(expr.join_columns or ())
        child_req = None if (required is None or not jc) else required | jc
        compute_pruned_outputs(expr.left_child, catalog, child_req, out)
        compute_pruned_outputs(expr.right_child, catalog, child_req, out)
        return
    if isinstance(expr, E.JoinPublic):
        jc = frozenset(expr.join_columns or ())
        child_req = None if (required is None or not jc) else required | jc
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    child = getattr(expr, "child", None)
    if child is not None:
        # Unknown node: stop pruning below it (safe default).
        compute_pruned_outputs(child, catalog, None, out)


def measurement_required_columns(expr: E.QueryExpr) -> Optional[frozenset]:
    """Columns a measurement root consumes from its child."""
    keys = getattr(expr, "groupby_keys", None)
    gcols: frozenset = frozenset()
    if isinstance(keys, KeySet):
        gcols = frozenset(keys.columns())
    elif isinstance(keys, E.AutoPartitionKeys):
        gcols = frozenset(keys.columns())
    if isinstance(expr, E.GroupByCount):
        return gcols
    if isinstance(expr, E.GroupByCountDistinct):
        if not expr.columns_to_count:
            return None  # counts distinct full rows
        return gcols | frozenset(expr.columns_to_count)
    if isinstance(
        expr,
        (
            E.GroupByBoundedSum,
            E.GroupByBoundedAverage,
            E.GroupByBoundedVariance,
            E.GroupByBoundedStdev,
            E.GroupByQuantile,
            E.GroupByQuantiles,
        ),
    ):
        return gcols | {expr.measure_column}
    if isinstance(expr, E.GetBounds):
        return gcols | {expr.measure_column}
    if isinstance(expr, E.GetGroups):
        return frozenset(expr.columns) if expr.columns else None
    if isinstance(expr, E.SuppressAggregates):
        return measurement_required_columns(expr.child)
    return None


# ---------------------------------------------------------------------------
# Transformation compiler


def compile_transform(expr: E.QueryExpr, ctx: CompileContext) -> CompiledTable:
    """Fold a transformation-only QueryExpr chain into a CompiledTable."""
    if isinstance(expr, E.PrivateSource):
        if expr.source_id in ctx.views:
            v = ctx.views[expr.source_id]
            return CompiledTable(
                v.df, v.schema, v.l1, v.l2, v.is_ids, list(v.constraints)
            )
        src = ctx.private_tables[expr.source_id]
        t = initial_table(src)
        carried = ctx.source_constraints.get(expr.source_id)
        if carried:
            t = dc_replace(t, constraints=simplify_constraints(list(carried)))
        return t

    if isinstance(expr, E.Filter):
        t = compile_transform(expr.child, ctx)
        return dc_replace(t, df=t.df.filter(expr.condition))

    if isinstance(expr, E.Select):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        kept = set(expr.columns)
        constraints = [
            c
            for c in t.constraints
            if not (
                isinstance(c, (MaxGroupsPerID, MaxRowsPerGroupPerID))
                and c.grouping_column not in kept
            )
        ]
        return CompiledTable(
            t.df.select(*expr.columns), schema, t.l1, t.l2, t.is_ids, constraints
        )

    if isinstance(expr, E.Rename):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        mapper = dict(expr.column_mapper)
        constraints = []
        for c in t.constraints:
            if isinstance(c, (MaxGroupsPerID, MaxRowsPerGroupPerID)):
                if c.grouping_column in mapper:
                    c = type(c)(mapper[c.grouping_column], c.max)
            constraints.append(c)
        return CompiledTable(
            t.df.withColumnsRenamed(mapper), schema, t.l1, t.l2, t.is_ids, constraints
        )

    if isinstance(expr, E.Map):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        df = compile_map(
            t.df, expr.f, schema, expr.augment,
            keep=ctx.pruned_outputs.get(id(expr)),
            vectorized=expr.vectorized,
        )
        constraints = list(t.constraints) if expr.augment else []
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, constraints)

    if isinstance(expr, E.FlatMap):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        if not t.is_ids and expr.max_rows is None:
            raise ValueError(
                "Flat maps on tables without IDs must have a max_rows parameter"
            )
        df = compile_flat_map(
            t.df, expr.f, schema, expr.augment, expr.max_rows,
            keep=ctx.pruned_outputs.get(id(expr)),
            vectorized=expr.vectorized,
        )
        # Stability: x max_rows; grouping flat maps scale L2 by sqrt(max_rows)
        # (reference GroupingFlatMap / RootSumOfSquared semantics).
        if t.is_ids:
            l1, l2 = t.l1, t.l2
        else:
            n = float(expr.max_rows)
            l1 = t.l1 * n
            l2 = t.l2 * (math.sqrt(n) if expr.grouping else n)
        # Only MaxGroupsPerID survives a flat map
        # (reference _constraint_propagation.py:97).
        constraints = [c for c in t.constraints if isinstance(c, MaxGroupsPerID)]
        return CompiledTable(df, schema, l1, l2, t.is_ids, constraints)

    if isinstance(expr, E.FlatMapByID):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        id_col = t.schema.id_column
        assert id_col is not None
        df = compile_flat_map_by_id(
            t.df, expr.f, id_col, schema,
            keep=ctx.pruned_outputs.get(id(expr)),
        )
        # Drops all constraints (reference _base_transformation_visitor.py:772-775).
        return CompiledTable(df, schema, t.l1, t.l2, True, [])

    if isinstance(expr, E.ReplaceNullAndNan):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        replace_with = dict(expr.replace_with)
        targets = (
            list(replace_with)
            if replace_with
            else [
                c
                for c in t.schema
                if (t.schema[c].allow_null or t.schema[c].allow_nan)
                and c != t.schema.grouping_column
                and c != t.schema.id_column
            ]
        )
        cols = {}
        for c in targets:
            ctype = t.schema[c].column_type
            value = replace_with.get(c, AnalyticsDefault.for_type(ctype))
            cols[c] = _replace_null_nan_col(c, ctype, value)
        df = t.df.withColumns(cols) if cols else t.df
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, list(t.constraints))

    if isinstance(expr, E.ReplaceInfinity):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        replace_with = dict(expr.replace_with)
        targets = (
            replace_with
            if replace_with
            else {
                c: (
                    float(AnalyticsDefault.DECIMAL),
                    float(AnalyticsDefault.DECIMAL),
                )
                for c in t.schema
                if t.schema[c].column_type is ColumnType.DECIMAL
            }
        )
        cols = {c: _replace_inf_col(c, lo, hi) for c, (lo, hi) in targets.items()}
        df = t.df.withColumns(cols) if cols else t.df
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, list(t.constraints))

    if isinstance(expr, E.DropNullAndNan):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        targets = list(expr.columns) or [
            c
            for c in t.schema
            if (t.schema[c].allow_null or t.schema[c].allow_nan)
            and c not in (t.schema.grouping_column, t.schema.id_column)
        ]
        df = t.df
        for c in targets:
            cond = F.col(c).isNotNull()
            if t.schema[c].column_type is ColumnType.DECIMAL:
                cond = cond & ~F.isnan(F.col(c))
            df = df.filter(cond)
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, list(t.constraints))

    if isinstance(expr, E.DropInfinity):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        targets = list(expr.columns) or [
            c for c in t.schema if t.schema[c].allow_inf
        ]
        df = t.df
        for c in targets:
            # eqNullSafe: a plain NOT IN would evaluate NULL for null rows
            # and drop them; only the infinities must go (nulls, NaNs stay).
            df = df.filter(
                ~F.col(c).eqNullSafe(float("inf"))
                & ~F.col(c).eqNullSafe(float("-inf"))
            )
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, list(t.constraints))

    if isinstance(expr, E.BinColumn):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        out = expr.name or f"{expr.column}_binned"
        df = t.df.withColumn(out, expr.spec.to_column(expr.column))
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, list(t.constraints))

    if isinstance(expr, E.EnforceConstraint):
        t = compile_transform(expr.child, ctx)
        if not t.is_ids:
            raise ValueError("enforce() requires a table with a privacy ID")
        id_col = t.schema.id_column
        assert id_col is not None
        c = expr.constraint
        if isinstance(c, MaxRowsPerID):
            df = truncate_max_rows_per_id(t.df, id_col, c.max)
        elif isinstance(c, MaxGroupsPerID):
            df = truncate_max_groups_per_id(t.df, id_col, c.grouping_column, c.max)
        elif isinstance(c, MaxRowsPerGroupPerID):
            df = truncate_max_rows_per_group_per_id(
                t.df, id_col, c.grouping_column, c.max
            )
        else:
            raise TypeError(f"Unknown constraint {c!r}")
        constraints = simplify_constraints([*t.constraints, c])
        return CompiledTable(df, t.schema, t.l1, t.l2, True, constraints)

    if isinstance(expr, E.JoinPublic):
        return _compile_join_public(expr, ctx)

    if isinstance(expr, E.JoinPrivate):
        return _compile_join_private(expr, ctx)

    raise TypeError(f"Not a transformation node: {type(expr).__name__}")


def _public_df(public_table, ctx: CompileContext) -> DataFrame:
    if isinstance(public_table, str):
        return ctx.public_tables[public_table]
    from ..schema import coerce_spark_schema

    return coerce_spark_schema(public_table)


def _compile_join_public(expr: E.JoinPublic, ctx: CompileContext) -> CompiledTable:
    t = compile_transform(expr.child, ctx)
    schema = expr.schema(ctx.catalog)
    pub = _public_df(expr.public_table, ctx)
    join_cols = (
        list(expr.join_columns)
        if expr.join_columns
        else [c for c in t.df.columns if c in set(pub.columns)]
    )
    df = nullsafe_join(t.df, pub, join_cols, how=expr.how)
    df = df.select(*[c for c in schema.columns if c in df.columns])
    # Stability multiplies by the max multiplicity of the join key in the
    # public table (reference _constraint_propagation.py:199-210). This is
    # an eager Spark job; skipped when the budget is infinite (noise is
    # zero, sensitivity does not matter).
    if ctx.budget_is_infinite:
        mult = 1
    else:
        mrow = (
            pub.groupBy(*join_cols).count().agg(F.max("count").alias("m")).collect()
        )
        mult = int(mrow[0]["m"] or 1)
    constraints = []
    for c in t.constraints:
        if isinstance(c, MaxRowsPerID):
            constraints.append(MaxRowsPerID(c.max * mult))
        elif isinstance(c, MaxRowsPerGroupPerID):
            if c.grouping_column in schema:
                constraints.append(
                    MaxRowsPerGroupPerID(c.grouping_column, c.max * mult)
                )
        elif isinstance(c, MaxGroupsPerID):
            if c.grouping_column in schema:
                constraints.append(c)
    # ID tables carry sensitivity in their constraints (already multiplied
    # above); multiplying the row-stability too would double-count when
    # _truncate_for_measurement combines them.
    if t.is_ids:
        return CompiledTable(df, schema, t.l1, t.l2, True, constraints)
    return CompiledTable(
        df, schema, t.l1 * mult, t.l2 * mult, False, constraints
    )


def _compile_join_private(expr: E.JoinPrivate, ctx: CompileContext) -> CompiledTable:
    lt = compile_transform(expr.left_child, ctx)
    rt = compile_transform(expr.right_child, ctx)
    schema = expr.schema(ctx.catalog)
    join_cols = (
        list(expr.join_columns)
        if expr.join_columns
        else [c for c in lt.df.columns if c in set(rt.df.columns)]
    )
    if lt.is_ids and rt.is_ids:
        if lt.schema.id_space != rt.schema.id_space:
            raise ValueError(
                "Cannot privately join tables from different ID spaces"
            )
        if expr.truncation_strategy_left or expr.truncation_strategy_right:
            raise ValueError(
                "When joining with IDs, truncation strategies are not required"
            )
        if lt.schema.id_column not in join_cols:
            raise ValueError("ID tables must join on their ID column")
        df = nullsafe_join(lt.df, rt.df, join_cols)
        df = df.select(*[c for c in schema.columns if c in df.columns])
        # Constraint product: each changed ID still has bounded rows if both
        # sides were bounded (reference _constraint_propagation.py:112-189).
        constraints: List[Constraint] = []
        lrows = [c for c in lt.constraints if isinstance(c, MaxRowsPerID)]
        rrows = [c for c in rt.constraints if isinstance(c, MaxRowsPerID)]
        if lrows and rrows:
            constraints.append(MaxRowsPerID(lrows[0].max * rrows[0].max))
        return CompiledTable(df, schema, 1.0, 1.0, True, constraints)
    if lt.is_ids or rt.is_ids:
        raise ValueError(
            "Cannot privately join an ID-protected table with a rows-protected one"
        )
    ls, rs = expr.truncation_strategy_left, expr.truncation_strategy_right
    if ls is None or rs is None:
        raise ValueError("When joining without IDs, truncation strategies are required")
    df = nullsafe_join(
        apply_truncation(lt.df, join_cols, ls),
        apply_truncation(rt.df, join_cols, rs),
        join_cols,
    )
    df = df.select(*[c for c in schema.columns if c in df.columns])
    l1 = join_truncation_stability(ls, rs, lt.l1, rt.l1)
    l2 = join_truncation_stability(ls, rs, lt.l2, rt.l2)
    return CompiledTable(df, schema, l1, l2, False, [])


# ---------------------------------------------------------------------------
# Budget / mechanism resolution


@dataclass
class BudgetSpec:
    """Decomposed numeric view of a PrivacyBudget for scale computation."""

    kind: str  # "puredp" | "approxdp" | "zcdp"
    epsilon: float = 0.0
    delta: float = 0.0
    rho: float = 0.0
    infinite: bool = False

    @classmethod
    def of(cls, budget: PrivacyBudget) -> "BudgetSpec":
        if isinstance(budget, ApproxDPBudget):
            return cls(
                "approxdp",
                epsilon=float(budget.epsilon),
                delta=float(budget.delta),
                infinite=budget.is_infinite(),
            )
        if isinstance(budget, PureDPBudget):
            return cls(
                "puredp", epsilon=float(budget.epsilon), infinite=budget.is_infinite()
            )
        if isinstance(budget, RhoZCDPBudget):
            return cls("zcdp", rho=float(budget.rho), infinite=budget.is_infinite())
        raise TypeError(f"Unknown budget {budget!r}")

    def split(self, k: int) -> "BudgetSpec":
        if self.infinite:
            return self
        return BudgetSpec(
            self.kind,
            epsilon=self.epsilon / k,
            delta=self.delta / k,
            rho=self.rho / k,
            infinite=False,
        )


def resolve_mechanism(
    requested, budget: BudgetSpec, integer_valued: bool
) -> NoiseMechanism:
    """Noise-mechanism selection (reference _rewrite_rules.py:91-199)."""
    name = requested.name if hasattr(requested, "name") else str(requested).upper()
    if name == "GAUSSIAN":
        if budget.kind != "zcdp":
            raise ValueError(
                "Gaussian noise requires a RhoZCDPBudget; use laplace instead"
            )
        return (
            NoiseMechanism.DISCRETE_GAUSSIAN if integer_valued else NoiseMechanism.GAUSSIAN
        )
    if name == "LAPLACE":
        return NoiseMechanism.GEOMETRIC if integer_valued else NoiseMechanism.LAPLACE
    # DEFAULT
    if budget.kind == "zcdp":
        return (
            NoiseMechanism.DISCRETE_GAUSSIAN
            if integer_valued
            else NoiseMechanism.GAUSSIAN
        )
    return NoiseMechanism.GEOMETRIC if integer_valued else NoiseMechanism.LAPLACE


def noise_scale(
    mechanism: NoiseMechanism, budget: BudgetSpec, l1: float, l2: float
) -> float:
    """Noise scale for sensitivity (l1, l2) under the budget.

    Geometric/Laplace consume epsilon: b = l1/epsilon. (Discrete) Gaussian
    consumes rho: sigma = sqrt(l2^2 / (2 rho)).
    """
    if budget.infinite:
        return 0.0
    if mechanism in (NoiseMechanism.GEOMETRIC, NoiseMechanism.LAPLACE):
        # Explicit Laplace under zCDP is allowed (reference permits it,
        # _rewrite_rules.py:104-105): an epsilon-DP Laplace mechanism is
        # (eps^2/2)-zCDP, so spending rho supports eps = sqrt(2 rho).
        eps = (
            math.sqrt(2.0 * budget.rho) if budget.kind == "zcdp" else budget.epsilon
        )
        if eps == 0:
            raise ValueError("Budget has no epsilon left for this query")
        return l1 / eps
    if budget.rho == 0:
        raise ValueError("Gaussian mechanisms require a zCDP budget with rho > 0")
    return math.sqrt(l2 * l2 / (2.0 * budget.rho))


# ---------------------------------------------------------------------------
# Measurement compiler


def _truncate_for_measurement(
    t: CompiledTable, groupby_cols: Sequence[str], budget_kind: str
) -> Tuple[DataFrame, float, float]:
    """ID tables: convert key-stability to row-stability via the recorded
    constraints, choosing the minimum-stability applicable set
    (reference _base_measurement_visitor.py:156-214, 534-589).

    Data was already truncated eagerly by enforce(), so this only computes
    sensitivity — no second shuffle.
    """
    if not t.is_ids:
        return t.df, t.l1, t.l2
    options: List[Tuple[float, float]] = []
    rows_c = [c for c in t.constraints if isinstance(c, MaxRowsPerID)]
    if rows_c:
        k = min(c.max for c in rows_c)
        options.append((float(k), float(k)))
    groups_c = {
        c.grouping_column: c.max
        for c in t.constraints
        if isinstance(c, MaxGroupsPerID)
    }
    rpg_c = {
        c.grouping_column: c.max
        for c in t.constraints
        if isinstance(c, MaxRowsPerGroupPerID)
    }
    for col, g in groups_c.items():
        if col in rpg_c:
            r = rpg_c[col]
            # The pair bounds total rows per ID at g*r for ANY query;
            # grouping on the constrained column additionally spreads a
            # changed ID over g cells, earning the sqrt(g) zCDP discount
            # (reference _base_measurement_visitor.py:182-214).
            options.append((float(g * r), float(g * r)))
            if col in groupby_cols:
                options.append((float(g * r), float(math.sqrt(g) * r)))
    if not options:
        raise ValueError(
            "A constraint on the number of rows contributed by each ID is "
            "needed to perform this query (e.g. MaxRowsPerID)"
        )
    if budget_kind == "zcdp":
        l1, l2 = min(options, key=lambda o: o[1])
    else:
        l1, l2 = min(options, key=lambda o: o[0])
    return t.df, l1 * t.l1, l2 * t.l2


#: Keysets at or below this many (estimated) rows are broadcast in the
#: pre-aggregation semi-join filter and the post-aggregation attach join.
#: Above it (or when the size is unknown and the keyset is not literal),
#: the plan falls back to shuffled joins and lets AQE pick the strategy at
#: runtime — an unconditional broadcast of a multi-GB keyset cross-product
#: would blow Spark's broadcast limit and driver memory at scale.
KEYSET_BROADCAST_LIMIT = 2**20


def _keyset_broadcastable(keys: KeySet) -> bool:
    est = keys.estimated_size()
    return est is not None and est <= KEYSET_BROADCAST_LIMIT


def _keyset_filter(df: DataFrame, keys: KeySet) -> DataFrame:
    """Prune rows outside the keyset BEFORE aggregating (broadcast semi join).

    At 100 TB this is the difference between shuffling every distinct group
    in the data and shuffling only keyset groups. Only applied when the
    keyset is small enough to broadcast: for huge keysets the semi-join
    would shuffle the full input a second time for no benefit — the
    post-aggregation attach join already drops out-of-keyset groups.
    """
    cols = list(keys.columns())
    if not cols:
        return df
    est = keys.estimated_size()
    if est is not None and est > KEYSET_BROADCAST_LIMIT:
        return df
    # Broadcast when the size is known; an unknown size (DataFrame-backed
    # keyset) gets a plain semi-join and AQE decides.
    return nullsafe_join(
        df, keys.dataframe(), cols, how="left_semi", broadcast=est is not None
    )


def _keyset_attach(
    agg: DataFrame, keys: KeySet, fill: Dict[str, Any]
) -> DataFrame:
    """keyset LEFT JOIN agg -> noisy-zero fill for missing groups.

    Joins AFTER aggregation: agg has at most |keyset| rows, so it is the
    broadcast side when the keyset (and hence agg) is provably small
    (noisy zeros for missing groups, per reference semantics:
    noise-after-join, not noise-then-join). For huge or unknown-size
    keysets this is a shuffled join and AQE picks the runtime strategy.
    ``fill`` also applies with no group columns: a global sum over no rows
    is null.
    """
    cols = list(keys.columns())
    if cols:
        agg = nullsafe_join(
            keys.dataframe(),
            agg,
            cols,
            how="left",
            broadcast=_keyset_broadcastable(keys),
        )
    fills = {
        c: F.coalesce(F.col(c), F.lit(v)) for c, v in fill.items() if v is not None
    }
    return agg.withColumns(fills) if fills else agg


def _clamp(col: F.Column, ctype: ColumnType, low, high) -> F.Column:
    if ctype is ColumnType.INTEGER and float(low).is_integer() and float(high).is_integer():
        lo, hi = int(low), int(high)
    else:
        lo, hi = float(low), float(high)
        col = col.cast("double")
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))


def _groupby(df: DataFrame, cols: Sequence[str]):
    return df.groupBy(*cols) if cols else df.groupBy()


@dataclass
class MeasurementResult:
    """A compiled measurement, lazy and free of noise: the noiseless
    aggregate ``df``, the ``noise`` its columns need, and ``finish``, the
    post-noise steps (algebra, casts, thresholds) up to the answer."""

    df: DataFrame
    noise: List[NoiseSpec]
    finish: Callable[[DataFrame], DataFrame] = lambda df: df
    #: Upper bound on ``df``'s rows when known without running Spark.
    max_rows: Optional[int] = None
    #: ``finish`` itself samples inside Spark (grouped quantiles).
    spark_random: bool = False
    #: Introspection records when they are not one per ``noise`` entry.
    infos: Optional[List[NoiseInfo]] = None

    @property
    def noise_infos(self) -> List[NoiseInfo]:
        if self.infos is not None:
            return self.infos
        return [NoiseInfo(n.mechanism, n.scale) for n in self.noise]

    def release(self) -> DataFrame:
        """The answer, with noise drawn exactly once per released value:
        on the driver up to ``KEYSET_BROADCAST_LIMIT`` rows (the size at
        which keysets already ship from the driver), else in one Spark
        pass pinned by ``localCheckpoint`` (see ``Session.evaluate``)."""
        specs = [n for n in self.noise if n.scale > 0]
        if not specs:
            out = self.finish(self.df)
            return out.localCheckpoint(eager=True) if self.spark_random else out
        cap = KEYSET_BROADCAST_LIMIT
        known_small = self.max_rows is not None and self.max_rows <= cap
        table = (self.df if known_small else self.df.limit(cap + 1)).toArrow()
        if table.num_rows > cap:
            noisy = add_noise_batches(self.df, specs)
            return self.finish(noisy).localCheckpoint(eager=True)
        local = local_frame(
            self.df.sparkSession, add_noise(table, specs, _rng()), self.df.schema
        )
        return self.finish(local)


def compile_measurement(
    expr: E.QueryExpr, ctx: CompileContext, budget: PrivacyBudget
) -> MeasurementResult:
    """Compile an aggregation root into a noiseless, lazy
    :class:`MeasurementResult`; ``release`` draws its noise."""
    bspec = BudgetSpec.of(budget)
    ctx.budget_is_infinite = bspec.infinite

    child = getattr(expr, "child", None)
    if child is not None and not isinstance(expr, E.SuppressAggregates):
        compute_pruned_outputs(
            child,
            ctx.catalog,
            measurement_required_columns(expr),
            ctx.pruned_outputs,
        )

    if isinstance(expr, E.SuppressAggregates):
        inner = compile_measurement(expr.child, ctx, budget)
        return dc_replace(
            inner,
            finish=lambda df: inner.finish(df).filter(
                F.col(expr.column) >= expr.threshold
            ),
        )

    if isinstance(expr, E.GetGroups):
        return _compile_get_groups(expr, ctx, bspec)

    if isinstance(expr, (E.AutoPartitionKeys,)):  # pragma: no cover
        raise AnalyticsInternalError("AutoPartitionKeys is not a query node")

    keys = getattr(expr, "groupby_keys", None)
    if isinstance(keys, E.AutoPartitionKeys):
        return _compile_auto_partition(expr, ctx, bspec)

    if isinstance(expr, (E.GroupByCount, E.GroupByCountDistinct)):
        return _compile_count(expr, ctx, bspec)
    if isinstance(expr, E.GroupByBoundedSum):
        return _compile_sum(expr, ctx, bspec)
    if isinstance(
        expr,
        (E.GroupByBoundedAverage, E.GroupByBoundedVariance, E.GroupByBoundedStdev),
    ):
        return _compile_moments(expr, ctx, bspec)
    if isinstance(expr, E.GroupByQuantile):
        return _compile_quantile(expr, ctx, bspec)
    if isinstance(expr, E.GroupByQuantiles):
        return _compile_quantiles(expr, ctx, bspec)
    if isinstance(expr, E.GetBounds):
        return _compile_get_bounds(expr, ctx, bspec)
    raise TypeError(f"Not a measurement node: {type(expr).__name__}")


def _prep(expr, ctx: CompileContext, bspec: BudgetSpec):
    """Common head: compile child, truncate IDs, filter to keyset."""
    t = compile_transform(expr.child, ctx)
    keys: KeySet = expr.groupby_keys
    gcols = list(keys.columns())
    df, l1, l2 = _truncate_for_measurement(t, gcols, bspec.kind)
    df = _keyset_filter(df, keys)
    return t, df, gcols, keys, l1, l2


def _compile_count(expr, ctx: CompileContext, bspec: BudgetSpec) -> MeasurementResult:
    t, df, gcols, keys, l1, l2 = _prep(expr, ctx, bspec)
    out = expr.output_column
    if isinstance(expr, E.GroupByCountDistinct):
        # Exact distinct, then noise (NOT approx_count_distinct): dedup
        # over the counted columns + group columns, then a plain count.
        distinct_cols = (
            list(dict.fromkeys([*gcols, *expr.columns_to_count]))
            if expr.columns_to_count
            else list(df.columns)
        )
        df = df.dropDuplicates(distinct_cols)
    agg = _groupby(df, gcols).agg(F.count(F.lit(1)).alias(out))
    res = _keyset_attach(agg, keys, {out: 0})
    mech = resolve_mechanism(expr.mechanism, bspec, integer_valued=True)
    return MeasurementResult(
        res,
        [NoiseSpec(out, mech, noise_scale(mech, bspec, l1, l2))],
        lambda df: df.withColumn(out, F.col(out).cast("long")),
        keys.estimated_size(),
    )


def _compile_sum(
    expr: E.GroupByBoundedSum, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    t, df, gcols, keys, l1, l2 = _prep(expr, ctx, bspec)
    out = expr.output_column
    ctype = t.schema[expr.measure_column].column_type
    integer_valued = (
        ctype is ColumnType.INTEGER
        and float(expr.low).is_integer()
        and float(expr.high).is_integer()
    )
    clamped = _clamp(F.col(expr.measure_column), ctype, expr.low, expr.high)
    agg = _groupby(df, gcols).agg(F.sum(clamped).alias(out))
    zero: Any = 0 if integer_valued else 0.0
    res = _keyset_attach(agg, keys, {out: zero})
    sens = max(abs(float(expr.low)), abs(float(expr.high)))
    mech = resolve_mechanism(expr.mechanism, bspec, integer_valued)
    return MeasurementResult(
        res,
        [NoiseSpec(out, mech, noise_scale(mech, bspec, l1 * sens, l2 * sens))],
        lambda df: df.withColumn(
            out, F.col(out).cast("long" if integer_valued else "double")
        ),
        keys.estimated_size(),
    )


def _compile_moments(expr, ctx: CompileContext, bspec: BudgetSpec) -> MeasurementResult:
    """Average and variance/stdev from noisy sums of dev = x - midpoint.
    avg = midpoint + noisy_sum(dev) / max(noisy_count, 1), budget split in
    two; sample variance from noisy (sum dev, sum dev^2, count), budget
    split three ways; stdev = sqrt(max(variance, 0))."""
    is_avg = isinstance(expr, E.GroupByBoundedAverage)
    t, df, gcols, keys, l1, l2 = _prep(expr, ctx, bspec)
    out = expr.output_column
    ctype = t.schema[expr.measure_column].column_type
    lo, hi = float(expr.low), float(expr.high)
    mid = lo + (hi - lo) / 2.0
    half_range = (hi - lo) / 2.0
    clamped = _clamp(F.col(expr.measure_column), ctype, expr.low, expr.high)
    dev = clamped.cast("double") - F.lit(mid)
    # column -> (aggregate, zero, sensitivity per changed row)
    sums = {"__sd__": (F.sum(dev), 0.0, half_range)}
    if not is_avg:
        sums["__sdd__"] = (F.sum(dev * dev), 0.0, half_range * half_range)
    sums["__n__"] = (F.count(F.lit(1)), 0, 1)
    agg = _groupby(df, gcols).agg(*[a.alias(c) for c, (a, _, _) in sums.items()])
    zeros = {c: z for c, (_, z, _) in sums.items()}
    res = _keyset_attach(agg, keys, zeros)
    part = bspec.split(len(sums))
    noise = []
    for c, (_, _, d) in sums.items():
        mech = resolve_mechanism(expr.mechanism, part, integer_valued=c == "__n__")
        noise.append(NoiseSpec(c, mech, noise_scale(mech, part, l1 * d, l2 * d)))

    def finish(df: DataFrame) -> DataFrame:
        n = F.greatest(F.col("__n__").cast("double"), F.lit(1.0))
        if is_avg:
            value = F.lit(mid) + F.col("__sd__") / n
        else:
            nm1 = F.greatest(F.col("__n__").cast("double") - F.lit(1.0), F.lit(1.0))
            var = (F.col("__sdd__") - (F.col("__sd__") * F.col("__sd__")) / n) / nm1
            value = F.greatest(var, F.lit(0.0))
            if isinstance(expr, E.GroupByBoundedStdev):
                value = F.sqrt(value)
        return df.withColumn(out, value).drop(*sums)

    return MeasurementResult(res, noise, finish, keys.estimated_size())


#: Number of histogram bins the DP quantile uses per group.
QUANTILE_BINS = 512


def _compile_quantile(
    expr: E.GroupByQuantile, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    """Single-quantile wrapper over :func:`_compile_quantiles` (one
    histogram pass, one exponential mechanism — identical semantics and
    budget to the reference's GroupByQuantile)."""
    multi = E.GroupByQuantiles(
        child=expr.child,
        groupby_keys=expr.groupby_keys,
        measure_column=expr.measure_column,
        quantiles=(float(expr.quantile),),
        low=expr.low,
        high=expr.high,
        output_columns=(expr.output_column,),
    )
    return _compile_quantiles(multi, ctx, bspec)


def _compile_quantiles(
    expr: E.GroupByQuantiles, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    """Exponential-mechanism quantile(s) over ONE fixed per-group histogram.

    Spark plan: clamp -> bin (Catalyst arithmetic) -> groupBy(group, bin)
    count (one shuffle, map-side combined) -> applyInPandas per group over
    <=QUANTILE_BINS rows to run the exponential mechanism once per
    requested quantile. The histogram pass — the only part that touches
    the data — is shared by all m quantiles; the total budget splits
    evenly across the m mechanisms (sequential composition). Scales to
    any number of groups; never collects raw values.

    With an infinite budget this deterministically returns the midpoint of
    the best-utility bin per quantile (reference returns a point inside
    the optimal interval; the bin width bounds the difference).
    """
    t, df, gcols, keys, l1, l2 = _prep(expr, ctx, bspec)
    outs = list(expr.output_columns)
    qs = [float(q) for q in expr.quantiles]
    m = len(qs)
    lo, hi = float(expr.low), float(expr.high)
    nb = QUANTILE_BINS
    width = (hi - lo) / nb
    cs = t.schema
    ctype = cs[expr.measure_column].column_type
    clamped = _clamp(F.col(expr.measure_column), ctype, expr.low, expr.high).cast(
        "double"
    )
    bin_col = F.least(
        F.floor((clamped - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(nb - 1)
    )
    binned = df.withColumn("__bin__", bin_col)
    counts = _groupby(binned, [*gcols, "__bin__"]).agg(
        F.count(F.lit(1)).alias("__c__")
    )
    total_eps = float("inf") if bspec.infinite else (
        bspec.epsilon if bspec.kind in ("puredp", "approxdp") else None
    )
    # Under zCDP, the exponential mechanism runs with epsilon derived from
    # rho: a rho-zCDP exponential mechanism satisfies eps = sqrt(8*rho).
    # For m quantiles the rho splits first (rho/m each), so each
    # mechanism gets eps_i = sqrt(8*rho/m).
    if total_eps is None:
        rho_each = (bspec.rho / m) if bspec.rho > 0 else 0.0
        eps = math.sqrt(8.0 * rho_each) if rho_each > 0 else 0.0
    else:
        eps = total_eps if not math.isfinite(total_eps) else total_eps / m
    sens = l1 if bspec.kind != "zcdp" else l2
    # Per-row utility sensitivity of u_i = -|cum_i + c_i/2 - q*n|. The
    # target q*n is data-dependent, so adding/removing one row moves BOTH
    # the rank term and the target; by case on where the row lands
    # relative to candidate bin i:
    #   row below bin i:  |Δ(cum_i) - q·Δn| = |1 - q|
    #   row inside bin i: |Δ(c_i)/2 - q·Δn| = |1/2 - q|
    #   row above bin i:  |0 - q·Δn|        = q
    # all bounded by max(q, 1-q) <= 1. Over l1 changed rows the total
    # utility sensitivity is du = sens * max(q, 1-q), and the exponential
    # mechanism scores with eps/(2*du).

    out_fields = [(c, t.df.schema[c].dataType) for c in gcols]
    out_schema = T.StructType(
        [T.StructField(c, dt, True) for c, dt in out_fields]
        + [T.StructField(o, T.DoubleType(), True) for o in outs]
    )

    import numpy as np

    def em_quantiles(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        counts_arr = np.zeros(nb, dtype=np.float64)
        for b, c in zip(pdf["__bin__"], pdf["__c__"]):
            if b is not None and 0 <= int(b) < nb:
                counts_arr[int(b)] = float(c)
        n = counts_arr.sum()
        cum = np.concatenate([[0.0], np.cumsum(counts_arr)])  # cum[i] = below bin i
        row = {c: v for (c, _), v in zip(out_fields, key)}
        for q, out in zip(qs, outs):
            target = q * n
            # Utility of bin i: -|rank error| at the bin boundary region.
            util = -np.abs(cum[:-1] + counts_arr / 2.0 - target)
            if not np.isfinite(eps) or eps <= 0:
                idx = int(np.argmax(util))
            else:
                # Exponential mechanism (Gumbel trick); total utility
                # sensitivity sens * max(q, 1-q) (see analysis above).
                du_per_row = max(q, 1.0 - q)
                scores = (eps / (2.0 * max(sens * du_per_row, 1e-12))) * util
                g = _rng().gumbel(size=nb)
                idx = int(np.argmax(scores + g))
            row[out] = float(lo + (idx + 0.5) * width)
        return pd.DataFrame([row], columns=[c for c, _ in out_fields] + outs)

    def finish(counts: DataFrame) -> DataFrame:
        res = _per_group(counts, gcols, em_quantiles, out_schema, keys)
        # Missing groups: empty data -> all bins tie -> argmax picks bin 0.
        for q, out in zip(qs, outs) if gcols else ():
            res = res.withColumn(
                out,
                F.coalesce(F.col(out), F.lit(_empty_quantile_value(q, lo, hi, nb))),
            )
        return res

    infos = [
        NoiseInfo(NoiseMechanism.EXPONENTIAL, 0.0 if bspec.infinite else eps)
        for _ in qs
    ]
    return MeasurementResult(
        counts,
        [],
        finish,
        spark_random=bool(gcols) and not bspec.infinite,
        infos=infos,
    )


def _per_group(counts, gcols, kernel, out_schema, keys: KeySet) -> DataFrame:
    """``kernel(key, pdf)`` -> one answer row per group of ``counts``: one
    ``applyInPandas`` attached to the keyset, or, with no group columns, a
    driver-side call whose answer is a local relation."""
    if not gcols:
        pdf = kernel((), counts.toPandas())
        return local_frame(
            counts.sparkSession, pdf.itertuples(index=False, name=None), out_schema
        )
    per_group = counts.groupBy(*gcols).applyInPandas(kernel, out_schema)
    return _keyset_attach(per_group, keys, {})


def _empty_quantile_value(q: float, lo: float, hi: float, nb: int) -> float:
    """Deterministic value for groups with no data at infinite budget: all
    bins tie at utility 0, argmax picks bin 0 -> its midpoint."""
    width = (hi - lo) / nb
    return lo + 0.5 * width


def _compile_get_groups(
    expr: E.GetGroups, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    """DP partition selection: noisy count per present group, threshold.

    Keys released iff noisy_count >= tau where tau satisfies the
    (epsilon, delta) key-release guarantee; with infinite budget tau = 1
    and zero noise (all non-empty groups released).
    """
    if bspec.kind != "approxdp" and not bspec.infinite:
        raise ValueError("get_groups requires an ApproxDPBudget")
    t = compile_transform(expr.child, ctx)
    cs = t.schema
    if cs.id_column and expr.columns and cs.id_column in expr.columns:
        # Releasing IDs whose counts clear the threshold would publish raw
        # user identifiers (reference session.py get_groups guard).
        raise RuntimeError(
            "get_groups cannot be used on the privacy ID column "
            f"({cs.id_column!r})"
        )
    cols = list(expr.columns) or [c for c in cs if c != cs.id_column]
    df, l1, l2 = (
        _truncate_for_measurement(t, cols, bspec.kind)
        if t.is_ids
        else (t.df, t.l1, t.l2)
    )
    counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__c__"))
    if bspec.infinite:
        b, tau = 0.0, 1
    else:
        eps, delta = bspec.epsilon, bspec.delta
        if delta <= 0:
            raise ValueError("get_groups requires delta > 0")
        b = l1 / eps
        # Threshold calibrated to the row-stability l1 (not just l1 = 1):
        # one protected change can add up to l1 rows, all landing in one
        # brand-new group (true count l1, release prob
        # (1/2)exp(-(tau-l1)/b)) or spread over up to l1 new groups (union
        # bound adds a factor l1). Solving (l1/2)exp(-(tau-l1)/b) <= delta
        # gives tau = l1 + b*ln(l1/(2*delta)).
        tau = max(1.0, l1 + b * math.log(l1 / (2.0 * delta)))
    return MeasurementResult(
        counts,
        [NoiseSpec("__c__", NoiseMechanism.GEOMETRIC, b)],
        lambda df: df.filter(F.col("__c__") >= tau).drop("__c__"),
    )


def _compile_get_bounds(
    expr: E.GetBounds, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    """DP clamping-bound estimate via a noisy histogram over power-of-two
    magnitude bins; returns the smallest +-2^k covering ~95% of rows
    (reference behavior: +-128 for data 0..99)."""
    t, df, gcols, keys, l1, l2 = _prep(expr, ctx, bspec)
    m = F.col(expr.measure_column).cast("double")
    # bin = ceil(log2(|x|)) for |x| > 1, else 0; sign-agnostic magnitude bin.
    mag = F.abs(m)
    binexp = F.when(mag <= 1.0, F.lit(0)).otherwise(
        F.ceil(F.log2(mag)).cast("int")
    )
    binned = df.withColumn("__b__", binexp)
    counts = _groupby(binned, [*gcols, "__b__"]).agg(F.count(F.lit(1)).alias("__c__"))
    eps = bspec.epsilon if bspec.kind != "zcdp" else math.sqrt(8.0 * bspec.rho)
    scale = 0.0 if bspec.infinite else (2.0 * l1 / eps if eps > 0 else 0.0)
    lb, ub = expr.lower_bound_column, expr.upper_bound_column

    out_fields = [(c, t.df.schema[c].dataType) for c in gcols]
    mtype = t.df.schema[expr.measure_column].dataType
    out_schema = T.StructType(
        [T.StructField(c, dt, True) for c, dt in out_fields]
        + [T.StructField(lb, mtype, True), T.StructField(ub, mtype, True)]
    )
    is_int = isinstance(mtype, (T.LongType, T.IntegerType))

    def pick_bound(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pairs = sorted(
            (int(b), float(c)) for b, c in zip(pdf["__b__"], pdf["__c__"])
        )
        total = sum(max(c, 0.0) for _, c in pairs)
        bound = 1.0
        if total > 0:
            acc = 0.0
            for b, c in pairs:
                acc += max(c, 0.0)
                bound = 2.0 ** b
                if acc / total >= 0.95:
                    break
        val = int(bound) if is_int else float(bound)
        row = {c: v for (c, _), v in zip(out_fields, key)}
        row[lb] = -val
        row[ub] = val
        return pd.DataFrame([row], columns=[c for c, _ in out_fields] + [lb, ub])

    return MeasurementResult(
        counts,
        [NoiseSpec("__c__", NoiseMechanism.GEOMETRIC, scale)],
        lambda counts: _per_group(counts, gcols, pick_bound, out_schema, keys),
    )


def _compile_auto_partition(expr, ctx: CompileContext, bspec: BudgetSpec):
    """groupby(column_names): DP-discover keys via partition selection
    (epsilon/2 + all delta), then run the aggregation (epsilon/2) over the
    discovered KeySet (reference _base_measurement_visitor.py:343-364)."""
    if bspec.kind != "approxdp" and not bspec.infinite:
        raise ValueError(
            "groupby() with column names (automatic partition selection) "
            "requires an ApproxDPBudget"
        )
    detect_cols = expr.groupby_keys.cols
    fixed = expr.groupby_keys.fixed
    plan = expr.groupby_keys.plan
    if bspec.infinite:
        sel_budget = ApproxDPBudget(float("inf"), 1)
        agg_budget: PrivacyBudget = ApproxDPBudget(float("inf"), 1)
    else:
        sel_budget = ApproxDPBudget(bspec.epsilon / 2, bspec.delta)
        agg_budget = ApproxDPBudget(bspec.epsilon / 2, 0)
    groups = compile_measurement(
        E.GetGroups(expr.child, tuple(detect_cols)), ctx, sel_budget
    )
    if bspec.infinite or ctx.introspection_only:
        keyset = KeySet.from_dataframe(groups.finish(groups.df))
    else:
        # The detected keys come from a noisy partition selection, so they
        # are released (drawn once) before the aggregation reads them.
        keyset = _released_keyset(groups.release())
    if plan is not None:
        # KeySetPlan: fixed factors crossed with the detected keys, then
        # any deferred algebra (filter/project/join/...) in plan order.
        keyset = plan.resolve(keyset)
    elif fixed is not None:
        keyset = fixed * keyset
    concrete = dc_replace(expr, groupby_keys=keyset)
    inner = compile_measurement(concrete, ctx, agg_budget)
    return dc_replace(inner, infos=groups.noise_infos + inner.noise_infos)


def _released_keyset(df: DataFrame) -> KeySet:
    """Released keys as a KeySet: driver-side rows of known size when there
    are at most ``KEYSET_BROADCAST_LIMIT`` (collecting a local relation
    runs no Spark job), so the aggregation broadcasts them."""
    keyset = KeySet.from_dataframe(df)  # validates the key column types
    rows = df.limit(KEYSET_BROADCAST_LIMIT + 1).collect()
    if len(rows) > KEYSET_BROADCAST_LIMIT:
        return keyset
    return KeySet(
        _FromTuples(keyset.columns(), keyset.column_types(), tuple(map(tuple, rows)))
    )
