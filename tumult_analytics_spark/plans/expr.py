"""QueryExpr: the immutable logical-plan tree.

Fresh implementation of the 24 node types documented at
``/root/reference/src/tmlt/analytics/_query_expr.py`` with schema
propagation per node (join schema: _query_expr.py:801-846; group-by output
schema: _query_expr.py:1589-1650). The tree is deliberately tiny: Catalyst
does the physical planning; these nodes only carry the privacy-relevant
semantics (stability, special-value flags, constraints).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable, Dict, List, Mapping, Optional, Tuple, Union

from ..binning import BinningSpec
from ..constraints import Constraint, TruncationStrategy
from ..keyset import KeySet
from ..schema import (
    AnalyticsDefault,
    ColumnDescriptor,
    ColumnType,
    Schema,
)

Row = Dict[str, Any]

Catalog = Mapping[str, Schema]


# ---------------------------------------------------------------------------
# Mechanism enums (reference _query_expr.py:51-173)


class _MechEnum(Enum):
    @classmethod
    def parse(cls, value):
        if isinstance(value, cls):
            return value
        if isinstance(value, str):
            try:
                return cls[value.upper()]
            except KeyError:
                raise ValueError(
                    f"Unknown mechanism {value!r} for {cls.__name__}"
                ) from None
        raise TypeError(f"Cannot interpret {value!r} as {cls.__name__}")


class CountMechanism(_MechEnum):
    DEFAULT = "default"
    LAPLACE = "laplace"
    GAUSSIAN = "gaussian"


class CountDistinctMechanism(_MechEnum):
    DEFAULT = "default"
    LAPLACE = "laplace"
    GAUSSIAN = "gaussian"


class SumMechanism(_MechEnum):
    DEFAULT = "default"
    LAPLACE = "laplace"
    GAUSSIAN = "gaussian"


class AverageMechanism(_MechEnum):
    DEFAULT = "default"
    LAPLACE = "laplace"
    GAUSSIAN = "gaussian"


class VarianceMechanism(_MechEnum):
    DEFAULT = "default"
    LAPLACE = "laplace"
    GAUSSIAN = "gaussian"


class StdevMechanism(_MechEnum):
    DEFAULT = "default"
    LAPLACE = "laplace"
    GAUSSIAN = "gaussian"


# ---------------------------------------------------------------------------


class QueryExpr:
    """Base class of all logical-plan nodes."""

    def schema(self, catalog: Catalog) -> Schema:
        raise NotImplementedError


# --- Sources ---------------------------------------------------------------


@dataclass(frozen=True)
class PrivateSource(QueryExpr):
    """Leaf: reference a registered private table or view."""

    source_id: str

    def schema(self, catalog: Catalog) -> Schema:
        if self.source_id not in catalog:
            raise KeyError(f"Unknown private source {self.source_id!r}")
        return catalog[self.source_id]


@dataclass(frozen=True)
class GetGroups(QueryExpr):
    """DP partition selection: emit group keys present in the data."""

    child: QueryExpr
    columns: Tuple[str, ...] = ()

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        cols = self.columns or tuple(
            c for c in cs if c not in (cs.id_column,)
        )
        for c in cols:
            if c not in cs:
                raise ValueError(f"get_groups column {c!r} not in schema")
            if c == cs.id_column:
                raise ValueError("get_groups may not include the privacy ID column")
        return Schema({c: cs[c] for c in cols})


@dataclass(frozen=True)
class GetBounds(QueryExpr):
    """DP estimate of clamping bounds for a column."""

    child: QueryExpr
    groupby_keys: GroupbyKeys
    measure_column: str
    lower_bound_column: str
    upper_bound_column: str

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        if self.measure_column not in cs:
            raise ValueError(f"Column {self.measure_column!r} not in schema")
        mtype = cs[self.measure_column].column_type
        if mtype not in (ColumnType.INTEGER, ColumnType.DECIMAL):
            raise ValueError("get_bounds requires a numeric column")
        return _groupby_schema(
            self.groupby_keys,
            {
                self.lower_bound_column: ColumnDescriptor(mtype),
                self.upper_bound_column: ColumnDescriptor(mtype),
            },
            cs,
        )


# --- Row-level transformations --------------------------------------------


@dataclass(frozen=True)
class Rename(QueryExpr):
    child: QueryExpr
    column_mapper: Tuple[Tuple[str, str], ...]

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        mapper = dict(self.column_mapper)
        for old in mapper:
            if old not in cs:
                raise ValueError(f"Cannot rename missing column {old!r}")
        new_names = [mapper.get(c, c) for c in cs]
        if len(set(new_names)) != len(new_names):
            raise ValueError("Rename would create duplicate column names")
        cols = {mapper.get(c, c): cs[c] for c in cs}
        g = cs.grouping_column
        i = cs.id_column
        return Schema(
            cols,
            grouping_column=mapper.get(g, g) if g else None,
            id_column=mapper.get(i, i) if i else None,
            id_space=cs.id_space,
        )


@dataclass(frozen=True)
class Filter(QueryExpr):
    child: QueryExpr
    condition: str

    def schema(self, catalog: Catalog) -> Schema:
        return self.child.schema(catalog)


@dataclass(frozen=True)
class Select(QueryExpr):
    child: QueryExpr
    columns: Tuple[str, ...]

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        for c in self.columns:
            if c not in cs:
                raise ValueError(f"Cannot select missing column {c!r}")
        if cs.grouping_column and cs.grouping_column not in self.columns:
            raise ValueError(
                f"Cannot drop grouping column {cs.grouping_column!r} in select"
            )
        if cs.id_column and cs.id_column not in self.columns:
            raise ValueError(f"Cannot drop ID column {cs.id_column!r} in select")
        return Schema(
            {c: cs[c] for c in self.columns},
            grouping_column=cs.grouping_column,
            id_column=cs.id_column,
            id_space=cs.id_space,
        )


@dataclass(frozen=True, eq=False)
class Map(QueryExpr):
    child: QueryExpr
    f: Callable[[Row], Row]
    schema_new_columns: Schema
    augment: bool = False
    #: Opt-in batch API: f takes/returns a pandas.DataFrame (the new
    #: columns, same length as the batch) instead of per-row dicts.
    vectorized: bool = False

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        # New columns are forced nullable (reference
        # _base_transformation_visitor.py:627-635).
        new_cols = {
            c: ColumnDescriptor(
                d.column_type,
                allow_null=True,
                allow_nan=d.column_type is ColumnType.DECIMAL,
                allow_inf=d.column_type is ColumnType.DECIMAL,
            )
            for c, d in self.schema_new_columns.items()
        }
        if self.augment:
            cols = {**{c: cs[c] for c in cs}, **new_cols}
            return Schema(
                cols,
                grouping_column=cs.grouping_column,
                id_column=cs.id_column,
                id_space=cs.id_space,
            )
        if cs.grouping_column or cs.id_column:
            raise ValueError(
                "Non-augmenting map would drop the grouping/ID column; "
                "use augment=True"
            )
        return Schema(new_cols)


@dataclass(frozen=True, eq=False)
class FlatMap(QueryExpr):
    child: QueryExpr
    f: Callable[[Row], List[Row]]
    schema_new_columns: Schema
    augment: bool = False
    grouping: bool = False
    max_rows: Optional[int] = None
    #: Opt-in batch API: f(batch_pdf) -> (counts, new_columns_pdf) where
    #: counts[i] = number of output rows for input row i.
    vectorized: bool = False

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        new_cols = {
            c: ColumnDescriptor(
                d.column_type,
                allow_null=True,
                allow_nan=d.column_type is ColumnType.DECIMAL,
                allow_inf=d.column_type is ColumnType.DECIMAL,
            )
            for c, d in self.schema_new_columns.items()
        }
        grouping_column = cs.grouping_column
        if self.grouping:
            if len(new_cols) != 1:
                raise ValueError(
                    "A grouping flat map must create exactly one new column"
                )
            if grouping_column:
                raise ValueError("Only one grouping flat map is allowed per query")
            grouping_column = next(iter(new_cols))
        if self.augment:
            cols = {**{c: cs[c] for c in cs}, **new_cols}
            return Schema(
                cols,
                grouping_column=grouping_column,
                id_column=cs.id_column,
                id_space=cs.id_space,
            )
        if cs.id_column:
            raise ValueError("Non-augmenting flat map would drop the ID column")
        return Schema(new_cols, grouping_column=grouping_column)


@dataclass(frozen=True, eq=False)
class FlatMapByID(QueryExpr):
    child: QueryExpr
    f: Callable[[List[Row]], List[Row]]
    schema_new_columns: Schema

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        if not cs.id_column:
            raise ValueError("flat_map_by_id requires a table with a privacy ID")
        new_cols = {
            c: ColumnDescriptor(
                d.column_type,
                allow_null=True,
                allow_nan=d.column_type is ColumnType.DECIMAL,
                allow_inf=d.column_type is ColumnType.DECIMAL,
            )
            for c, d in self.schema_new_columns.items()
        }
        if cs.id_column in new_cols:
            raise ValueError("flat_map_by_id may not redefine the ID column")
        cols = {cs.id_column: cs[cs.id_column], **new_cols}
        return Schema(cols, id_column=cs.id_column, id_space=cs.id_space)


@dataclass(frozen=True)
class JoinPrivate(QueryExpr):
    left_child: QueryExpr
    right_child: QueryExpr
    truncation_strategy_left: Optional[TruncationStrategy.Type] = None
    truncation_strategy_right: Optional[TruncationStrategy.Type] = None
    join_columns: Optional[Tuple[str, ...]] = None

    def schema(self, catalog: Catalog) -> Schema:
        ls = self.left_child.schema(catalog)
        rs = self.right_child.schema(catalog)
        return _join_schema(ls, rs, self.join_columns, how="inner")


@dataclass(frozen=True, eq=False)
class JoinPublic(QueryExpr):
    child: QueryExpr
    public_table: Any  # str (table name) or DataFrame
    join_columns: Optional[Tuple[str, ...]] = None
    how: str = "inner"

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        if isinstance(self.public_table, str):
            ps = catalog[self.public_table]
        else:
            from ..schema import schema_from_spark

            ps = schema_from_spark(self.public_table.schema)
        return _join_schema(cs, ps, self.join_columns, how=self.how)


def _join_schema(
    left: Schema,
    right: Schema,
    join_columns: Optional[Tuple[str, ...]],
    how: str,
) -> Schema:
    """Join schema computation (reference _query_expr.py:801-846)."""
    common = [c for c in left if c in set(right.columns)]
    join_cols = list(join_columns) if join_columns else common
    if not join_cols:
        raise ValueError("Tables have no common columns to join on")
    for c in join_cols:
        if c not in left or c not in right:
            raise ValueError(f"Join column {c!r} missing from one side")
        lt, rt = left[c].column_type, right[c].column_type
        if lt != rt:
            raise ValueError(
                f"Join column {c!r} has mismatched types {lt.name} vs {rt.name}"
            )
    overlap = [c for c in common if c not in join_cols]
    cols: Dict[str, ColumnDescriptor] = {}
    # Join columns first, in left order; null flags AND for inner joins.
    for c in join_cols:
        ld, rd = left[c], right[c]
        allow_null = (
            ld.allow_null or rd.allow_null
            if how == "left"
            else ld.allow_null and rd.allow_null
        )
        cols[c] = ColumnDescriptor(
            ld.column_type,
            allow_null=allow_null,
            allow_nan=ld.allow_nan or rd.allow_nan,
            allow_inf=ld.allow_inf or rd.allow_inf,
        )
    for c in left:
        if c in join_cols:
            continue
        name = f"{c}_left" if c in overlap else c
        cols[name] = left[c]
    for c in right:
        if c in join_cols:
            continue
        name = f"{c}_right" if c in overlap else c
        d = right[c]
        if how == "left":
            # Unmatched rows give nulls in right-side columns.
            d = ColumnDescriptor(
                d.column_type, True, d.allow_nan, d.allow_inf
            )
        cols[name] = d
    return Schema(
        cols,
        grouping_column=left.grouping_column,
        id_column=left.id_column,
        id_space=left.id_space,
    )


@dataclass(frozen=True)
class ReplaceNullAndNan(QueryExpr):
    child: QueryExpr
    replace_with: Tuple[Tuple[str, Any], ...] = ()

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        # Default (empty) targets silently skip the grouping/ID columns
        # (reference _base_transformation_visitor.py:1020-1022); targeting
        # them EXPLICITLY is an error.
        targets = (
            [c for c, _ in self.replace_with]
            if self.replace_with
            else [
                c
                for c in cs
                if (cs[c].allow_null or cs[c].allow_nan)
                and c not in (cs.grouping_column, cs.id_column)
            ]
        )
        for c in targets:
            if c not in cs:
                raise ValueError(f"Cannot replace values in missing column {c!r}")
            if self.replace_with and c == cs.grouping_column:
                raise ValueError("Cannot replace values in the grouping column")
            if self.replace_with and c == cs.id_column:
                raise ValueError("Cannot replace values in the ID column")
        cols = {
            c: (
                ColumnDescriptor(cs[c].column_type, False, False, cs[c].allow_inf)
                if c in targets
                else cs[c]
            )
            for c in cs
        }
        return Schema(
            cols,
            grouping_column=cs.grouping_column,
            id_column=cs.id_column,
            id_space=cs.id_space,
        )


@dataclass(frozen=True)
class ReplaceInfinity(QueryExpr):
    child: QueryExpr
    replace_with: Tuple[Tuple[str, Tuple[float, float]], ...] = ()

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        targets = (
            [c for c, _ in self.replace_with]
            if self.replace_with
            else [c for c in cs if cs[c].column_type is ColumnType.DECIMAL]
        )
        cols = {}
        for c in cs:
            d = cs[c]
            if c in targets:
                if d.column_type is not ColumnType.DECIMAL:
                    raise ValueError(
                        f"replace_infinity target {c!r} is not DECIMAL"
                    )
                d = ColumnDescriptor(d.column_type, d.allow_null, d.allow_nan, False)
            cols[c] = d
        return Schema(
            cols,
            grouping_column=cs.grouping_column,
            id_column=cs.id_column,
            id_space=cs.id_space,
        )


@dataclass(frozen=True)
class DropNullAndNan(QueryExpr):
    child: QueryExpr
    columns: Tuple[str, ...] = ()

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        # Default targets skip grouping/ID columns; explicit targeting of
        # the grouping column raises (reference _query_expr.py:1314-1319,
        # :1350).
        targets = self.columns or tuple(
            c
            for c in cs
            if (cs[c].allow_null or cs[c].allow_nan)
            and c not in (cs.grouping_column, cs.id_column)
        )
        for c in targets:
            if c not in cs:
                raise ValueError(f"Cannot drop nulls in missing column {c!r}")
            if self.columns and c == cs.grouping_column:
                raise ValueError(
                    f"Cannot drop null values in column {c!r}, as it is a "
                    "grouping column"
                )
        cols = {
            c: (
                ColumnDescriptor(cs[c].column_type, False, False, cs[c].allow_inf)
                if c in targets
                else cs[c]
            )
            for c in cs
        }
        return Schema(
            cols,
            grouping_column=cs.grouping_column,
            id_column=cs.id_column,
            id_space=cs.id_space,
        )


@dataclass(frozen=True)
class DropInfinity(QueryExpr):
    child: QueryExpr
    columns: Tuple[str, ...] = ()

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        targets = self.columns or tuple(
            c for c in cs if cs[c].allow_inf
        )
        cols = {}
        for c in cs:
            d = cs[c]
            if c in targets:
                if d.column_type is not ColumnType.DECIMAL:
                    raise ValueError(f"drop_infinity target {c!r} is not DECIMAL")
                d = ColumnDescriptor(d.column_type, d.allow_null, d.allow_nan, False)
            cols[c] = d
        return Schema(
            cols,
            grouping_column=cs.grouping_column,
            id_column=cs.id_column,
            id_space=cs.id_space,
        )


@dataclass(frozen=True, eq=False)
class BinColumn(QueryExpr):
    child: QueryExpr
    column: str
    spec: BinningSpec
    name: str = ""

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        if self.column not in cs:
            raise ValueError(f"Cannot bin missing column {self.column!r}")
        out = self.name or f"{self.column}_binned"
        if out in cs:
            raise ValueError(f"Binned column name {out!r} already exists")
        cols = {**{c: cs[c] for c in cs}, out: self.spec.column_descriptor}
        return Schema(
            cols,
            grouping_column=cs.grouping_column,
            id_column=cs.id_column,
            id_space=cs.id_space,
        )


@dataclass(frozen=True)
class EnforceConstraint(QueryExpr):
    child: QueryExpr
    constraint: Constraint

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        if not cs.id_column:
            raise ValueError("enforce() requires a table with a privacy ID")
        return cs


# --- Aggregations ----------------------------------------------------------


@dataclass(frozen=True)
class AutoPartitionKeys:
    """Marker for DP-discovered group keys (requires ApproxDP): either
    ``groupby(column_names)`` (reference §2.5) or a ``KeySetPlan``
    carrying fixed factors crossed with detect columns (reference
    KeySetPlan, keyset/_keyset.py:622+). Mimics the minimal KeySet
    surface used in planning."""

    cols: Tuple[str, ...]
    fixed: Optional[KeySet] = None
    #: The full KeySetPlan when groupby() was given one: carries deferred
    #: algebra (filter/project/join/...) replayed after detection.
    plan: Optional[object] = None

    def columns(self) -> Tuple[str, ...]:
        if self.plan is not None:
            return tuple(self.plan.columns())
        fixed_cols = self.fixed.columns() if self.fixed is not None else ()
        return tuple(fixed_cols) + self.cols


GroupbyKeys = Union[KeySet, AutoPartitionKeys]


def _groupby_schema(
    keys: GroupbyKeys, out_cols: Dict[str, ColumnDescriptor], child_schema: Schema
) -> Schema:
    cols: Dict[str, ColumnDescriptor] = {}
    if isinstance(keys, KeySet):
        for c, t in keys.column_types().items():
            cols[c] = ColumnDescriptor(t)
    else:
        known = (
            keys.plan.known_column_types() if keys.plan is not None else {}
        )
        for c in keys.columns():
            if c in child_schema:
                cols[c] = ColumnDescriptor(child_schema[c].column_type)
            elif c in known:
                cols[c] = ColumnDescriptor(known[c])
            else:
                raise ValueError(
                    f"groupby column {c!r} not in table schema"
                )
    cols.update(out_cols)
    return Schema(cols)


def _check_groupby(cs: Schema, keys: GroupbyKeys) -> None:
    for c in keys.columns():
        if c not in cs:
            raise ValueError(f"Group-by column {c!r} not in table schema")
    if cs.grouping_column and cs.grouping_column not in keys.columns():
        raise ValueError(
            f"Queries on this table must group by the grouping column "
            f"{cs.grouping_column!r}"
        )


def _check_bounds(low, high) -> None:
    """Eager clamping-bound validation (reference validates in the
    QueryExpr __post_init__, so errors surface at build time)."""
    if low >= high:
        raise ValueError("Lower clamping bound must be less than upper bound")


def _check_measure(cs: Schema, column: str, low, high) -> None:
    if column not in cs:
        raise ValueError(f"Measure column {column!r} not in table schema")
    if cs[column].column_type not in (ColumnType.INTEGER, ColumnType.DECIMAL):
        raise ValueError(f"Measure column {column!r} must be numeric")
    if low >= high:
        raise ValueError("Lower clamping bound must be less than upper bound")
    if column == cs.id_column:
        raise ValueError("Cannot aggregate the privacy ID column")


@dataclass(frozen=True)
class GroupByCount(QueryExpr):
    child: QueryExpr
    groupby_keys: GroupbyKeys
    output_column: str = "count"
    mechanism: CountMechanism = CountMechanism.DEFAULT

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        _check_groupby(cs, self.groupby_keys)
        return _groupby_schema(
            self.groupby_keys,
            {self.output_column: ColumnDescriptor(ColumnType.INTEGER)},
            cs,
        )


@dataclass(frozen=True)
class GroupByCountDistinct(QueryExpr):
    child: QueryExpr
    groupby_keys: GroupbyKeys
    columns_to_count: Tuple[str, ...] = ()
    output_column: str = "count_distinct"
    mechanism: CountDistinctMechanism = CountDistinctMechanism.DEFAULT

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        _check_groupby(cs, self.groupby_keys)
        for c in self.columns_to_count:
            if c not in cs:
                raise ValueError(f"count_distinct column {c!r} not in schema")
        return _groupby_schema(
            self.groupby_keys,
            {self.output_column: ColumnDescriptor(ColumnType.INTEGER)},
            cs,
        )


@dataclass(frozen=True)
class GroupByQuantile(QueryExpr):
    child: QueryExpr
    groupby_keys: GroupbyKeys
    measure_column: str
    quantile: float
    low: float
    high: float
    output_column: str = ""

    def __post_init__(self):
        _check_bounds(self.low, self.high)
        if not (0.0 <= self.quantile <= 1.0):
            raise ValueError("Quantile must be between 0 and 1")

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        _check_groupby(cs, self.groupby_keys)
        _check_measure(cs, self.measure_column, self.low, self.high)
        return _groupby_schema(
            self.groupby_keys,
            {self.output_column: ColumnDescriptor(ColumnType.DECIMAL)},
            cs,
        )


@dataclass(frozen=True)
class GroupByQuantiles(QueryExpr):
    """Multi-quantile extension (this engine's addition; the reference's
    API exposes only one quantile per query, see reference
    src/tmlt/analytics/_query_expr.py GroupByQuantile): m quantiles of one
    measure column computed from a SINGLE clamp->bin->count histogram
    pass. The privacy budget splits evenly across the m exponential
    mechanisms (sequential composition over the same per-group
    histogram), so ``quantiles(col, [q])`` costs exactly what
    ``quantile(col, q)`` costs and m quantiles cost one scan instead of
    m scans."""

    child: QueryExpr
    groupby_keys: GroupbyKeys
    measure_column: str
    quantiles: tuple
    low: float
    high: float
    output_columns: tuple = ()

    def __post_init__(self):
        _check_bounds(self.low, self.high)
        if not self.quantiles:
            raise ValueError("quantiles must not be empty")
        for q in self.quantiles:
            if not (0.0 <= float(q) <= 1.0):
                raise ValueError("Quantile must be between 0 and 1")
        if len(self.output_columns) != len(self.quantiles):
            raise ValueError(
                "output_columns must match quantiles in length"
            )
        if len(set(self.output_columns)) != len(self.output_columns):
            raise ValueError("output_columns must be distinct")

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        _check_groupby(cs, self.groupby_keys)
        _check_measure(cs, self.measure_column, self.low, self.high)
        return _groupby_schema(
            self.groupby_keys,
            {
                c: ColumnDescriptor(ColumnType.DECIMAL)
                for c in self.output_columns
            },
            cs,
        )


@dataclass(frozen=True)
class GroupByBoundedSum(QueryExpr):
    child: QueryExpr
    groupby_keys: GroupbyKeys
    measure_column: str
    low: float
    high: float
    output_column: str = ""
    mechanism: SumMechanism = SumMechanism.DEFAULT

    def __post_init__(self):
        _check_bounds(self.low, self.high)

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        _check_groupby(cs, self.groupby_keys)
        _check_measure(cs, self.measure_column, self.low, self.high)
        out_type = cs[self.measure_column].column_type
        return _groupby_schema(
            self.groupby_keys,
            {self.output_column: ColumnDescriptor(out_type)},
            cs,
        )


@dataclass(frozen=True)
class GroupByBoundedAverage(QueryExpr):
    child: QueryExpr
    groupby_keys: GroupbyKeys
    measure_column: str
    low: float
    high: float
    output_column: str = ""
    mechanism: AverageMechanism = AverageMechanism.DEFAULT

    def __post_init__(self):
        _check_bounds(self.low, self.high)

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        _check_groupby(cs, self.groupby_keys)
        _check_measure(cs, self.measure_column, self.low, self.high)
        return _groupby_schema(
            self.groupby_keys,
            {self.output_column: ColumnDescriptor(ColumnType.DECIMAL)},
            cs,
        )


@dataclass(frozen=True)
class GroupByBoundedVariance(QueryExpr):
    child: QueryExpr
    groupby_keys: GroupbyKeys
    measure_column: str
    low: float
    high: float
    output_column: str = ""
    mechanism: VarianceMechanism = VarianceMechanism.DEFAULT

    def __post_init__(self):
        _check_bounds(self.low, self.high)

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        _check_groupby(cs, self.groupby_keys)
        _check_measure(cs, self.measure_column, self.low, self.high)
        return _groupby_schema(
            self.groupby_keys,
            {self.output_column: ColumnDescriptor(ColumnType.DECIMAL)},
            cs,
        )


@dataclass(frozen=True)
class GroupByBoundedStdev(QueryExpr):
    child: QueryExpr
    groupby_keys: GroupbyKeys
    measure_column: str
    low: float
    high: float
    output_column: str = ""
    mechanism: StdevMechanism = StdevMechanism.DEFAULT

    def __post_init__(self):
        _check_bounds(self.low, self.high)

    def schema(self, catalog: Catalog) -> Schema:
        cs = self.child.schema(catalog)
        _check_groupby(cs, self.groupby_keys)
        _check_measure(cs, self.measure_column, self.low, self.high)
        return _groupby_schema(
            self.groupby_keys,
            {self.output_column: ColumnDescriptor(ColumnType.DECIMAL)},
            cs,
        )


@dataclass(frozen=True)
class SuppressAggregates(QueryExpr):
    """Post-process a GroupByCount: drop rows with count below threshold."""

    child: GroupByCount
    column: str
    threshold: float

    def schema(self, catalog: Catalog) -> Schema:
        return self.child.schema(catalog)


#: All transformation node types (allowed in views).
TRANSFORMATION_NODES = (
    PrivateSource,
    Rename,
    Filter,
    Select,
    Map,
    FlatMap,
    FlatMapByID,
    JoinPrivate,
    JoinPublic,
    ReplaceNullAndNan,
    ReplaceInfinity,
    DropNullAndNan,
    DropInfinity,
    BinColumn,
    EnforceConstraint,
)

#: All aggregation (measurement root) node types.
MEASUREMENT_NODES = (
    GroupByCount,
    GroupByCountDistinct,
    GroupByQuantile,
    GroupByQuantiles,
    GroupByBoundedSum,
    GroupByBoundedAverage,
    GroupByBoundedVariance,
    GroupByBoundedStdev,
    GetGroups,
    GetBounds,
    SuppressAggregates,
)
