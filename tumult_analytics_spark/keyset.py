"""KeySet: the domain of a group-by, as a lazy op-tree over DataFrames.

Fresh implementation of the algebra documented at
``/root/reference/src/tmlt/analytics/keyset/_keyset.py`` and
``keyset/_ops/``:

- 8 ops: from_tuples/from_dataframe sources, cross join (``*``), natural
  join, subtract (``-``), union (``|``), project (``[]``), filter, detect
  (detect is handled at the Session level as DP partition selection).
- Columns restricted to INTEGER / DATE / VARCHAR
  (keyset/_ops/_utils.py:10).
- Materialization always deduplicates (keyset/_keyset.py:461-480).
- Small cross products (estimated <= 2**20 rows) are computed driver-side
  instead of a Spark crossJoin (keyset/_ops/_rules.py:23, 282-349) — at
  scale the keyset is the *broadcast* side of the aggregation join, so
  keeping it driver-resident when tiny avoids pointless Spark jobs. Its
  frame is built column-wise in Arrow (each factor column repeated or
  tiled), with no tuple per output row.
- Driver-side rows (literal sources, local products, released keys) become
  an Arrow-backed ``LocalRelation`` through :func:`utils.local_frame`. A
  release scans its keyset twice (the keyset-filter semi-join and the
  attach join); built with ``createDataFrame(list, schema)`` instead, the
  keyset would be a ``LogicalRDD`` over a PythonRDD (PySpark re-serializes
  ``sc.parallelize`` through an identity ``map``), and each scan would
  start Python workers.

Spark mapping: crossJoin / null-safe join / left_anti / unionByName+distinct
/ select+dropDuplicates / filter. Catalyst handles ordering; we keep the
driver-side fast path because Catalyst will not constant-fold a cross
product of literal domains.
"""

from __future__ import annotations

import datetime
import itertools
from abc import ABC, abstractmethod
from dataclasses import dataclass
from typing import Any, Dict, Iterable, List, Mapping, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import ColumnType, Schema, coerce_spark_schema, schema_from_spark
from .utils import arrow_columns, local_frame, nullsafe_join

#: Types allowed in KeySet columns (reference keyset/_ops/_utils.py:10).
KEYSET_COLUMN_TYPES = (ColumnType.INTEGER, ColumnType.DATE, ColumnType.VARCHAR)

#: Cross products estimated at or below this many rows are computed in driver
#: memory (reference keyset/_ops/_rules.py:23).
IN_MEMORY_CROSSJOIN_LIMIT = 2**20

_SPARK_T = {
    ColumnType.INTEGER: T.LongType(),
    ColumnType.DATE: T.DateType(),
    ColumnType.VARCHAR: T.StringType(),
}


def _struct(op: "_Op") -> T.StructType:
    """Spark schema of an op's columns, in column order."""
    types = op.schema()
    return T.StructType(
        [T.StructField(c, _SPARK_T[types[c]], True) for c in op.columns()]
    )


def _py_keyset_type(v: Any) -> ColumnType:
    if isinstance(v, bool):
        raise ValueError("BOOLEAN values are not allowed in KeySets")
    if isinstance(v, int):
        return ColumnType.INTEGER
    if isinstance(v, str):
        return ColumnType.VARCHAR
    if isinstance(v, datetime.datetime):
        raise ValueError("TIMESTAMP columns are not allowed in KeySets")
    if isinstance(v, datetime.date):
        return ColumnType.DATE
    raise ValueError(f"Unsupported KeySet value type: {type(v).__name__}")


def _spark() -> SparkSession:
    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("No active SparkSession")
    return s


# ---------------------------------------------------------------------------
# Op tree


class _Op(ABC):
    @abstractmethod
    def columns(self) -> Tuple[str, ...]:
        ...

    @abstractmethod
    def schema(self) -> Dict[str, ColumnType]:
        ...

    def estimated_size(self) -> Optional[int]:
        """Upper-bound row estimate if cheaply known (driver-side data)."""
        return None

    def local_rows(self) -> Optional[List[Tuple]]:
        """Rows if this subtree is materializable driver-side, else None."""
        return None

    def local_columns(self) -> Optional[Tuple[int, list]]:
        """``(row count, one Arrow array per column)`` of
        :meth:`local_rows`, else None."""
        rows = self.local_rows()
        if rows is None:
            return None
        return len(rows), arrow_columns(rows, _struct(self))

    @abstractmethod
    def to_df(self) -> DataFrame:
        ...


@dataclass
class _FromTuples(_Op):
    cols: Tuple[str, ...]
    types: Dict[str, ColumnType]
    rows: Tuple[Tuple, ...]  # deduplicated, insertion order

    def columns(self):
        return self.cols

    def schema(self):
        return dict(self.types)

    def estimated_size(self):
        return len(self.rows)

    def local_rows(self):
        return list(self.rows)

    def to_df(self):
        return local_frame(_spark(), self.rows, _struct(self))


@dataclass
class _FromDataFrame(_Op):
    df: DataFrame
    types: Dict[str, ColumnType]

    def columns(self):
        return tuple(self.types)

    def schema(self):
        return dict(self.types)

    def to_df(self):
        return self.df.select(*self.types).dropDuplicates()


@dataclass
class _CrossJoin(_Op):
    left: _Op
    right: _Op

    def columns(self):
        return self.left.columns() + self.right.columns()

    def schema(self):
        return {**self.left.schema(), **self.right.schema()}

    def estimated_size(self):
        l, r = self.left.estimated_size(), self.right.estimated_size()
        return l * r if l is not None and r is not None else None

    def local_rows(self):
        est = self.estimated_size()
        if est is None or est > IN_MEMORY_CROSSJOIN_LIMIT:
            return None
        l, r = self.left.local_rows(), self.right.local_rows()
        if l is None or r is None:
            return None
        return [a + b for a, b in itertools.product(l, r)]

    def local_columns(self):
        # Column-wise product, in local_rows order: each left column
        # repeated and each right column tiled by the other side's length,
        # so no tuple per output row is built.
        est = self.estimated_size()
        if est is None or est > IN_MEMORY_CROSSJOIN_LIMIT:
            return None
        l, r = self.left.local_columns(), self.right.local_columns()
        if l is None or r is None:
            return None
        import numpy as np

        (nl, lcols), (nr, rcols) = l, r
        li, ri = np.repeat(np.arange(nl), nr), np.tile(np.arange(nr), nl)
        return nl * nr, [c.take(li) for c in lcols] + [c.take(ri) for c in rcols]

    def to_df(self):
        local = self.local_columns()
        if local is None:
            return self.left.to_df().crossJoin(self.right.to_df())
        n, columns = local
        if not columns:  # a product of column-less factors
            return local_frame(_spark(), [()] * n, _struct(self))
        import pyarrow as pa

        table = pa.Table.from_arrays(columns, names=list(self.columns()))
        return local_frame(_spark(), table, _struct(self))


@dataclass
class _Join(_Op):
    left: _Op
    right: _Op

    def columns(self):
        lc = self.left.columns()
        return lc + tuple(c for c in self.right.columns() if c not in lc)

    def schema(self):
        return {**self.left.schema(), **self.right.schema()}

    def to_df(self):
        common = [c for c in self.left.columns() if c in set(self.right.columns())]
        return nullsafe_join(self.left.to_df(), self.right.to_df(), common)


@dataclass
class _Subtract(_Op):
    left: _Op
    right: _Op

    def columns(self):
        return self.left.columns()

    def schema(self):
        return self.left.schema()

    def to_df(self):
        return nullsafe_join(
            self.left.to_df(),
            self.right.to_df(),
            self.right.columns(),
            how="left_anti",
        )


@dataclass
class _Union(_Op):
    left: _Op
    right: _Op

    def columns(self):
        return self.left.columns()

    def schema(self):
        return self.left.schema()

    def to_df(self):
        return self.left.to_df().unionByName(self.right.to_df()).dropDuplicates()


@dataclass
class _Project(_Op):
    child: _Op
    cols: Tuple[str, ...]
    #: False when this node only reorders columns of an already-distinct
    #: child (e.g. a cross join of deduped factors): skips the shuffle.
    dedup: bool = True

    def columns(self):
        return self.cols

    def schema(self):
        cs = self.child.schema()
        return {c: cs[c] for c in self.cols}

    def estimated_size(self):
        return self.child.estimated_size()

    def local_rows(self):
        rows = self.child.local_rows()
        if rows is None:
            return None
        child_cols = self.child.columns()
        idx = [child_cols.index(c) for c in self.cols]
        projected = [tuple(r[i] for i in idx) for r in rows]
        return list(dict.fromkeys(projected)) if self.dedup else projected

    def to_df(self):
        out = self.child.to_df().select(*self.cols)
        return out.dropDuplicates() if self.dedup else out


@dataclass
class _Filter(_Op):
    child: _Op
    condition: Union[str, Column]

    def columns(self):
        return self.child.columns()

    def schema(self):
        return self.child.schema()

    def to_df(self):
        return self.child.to_df().filter(self.condition)


# ---------------------------------------------------------------------------
# Op-tree rewrites


def _push_project(op: _Op, cols: Tuple[str, ...]) -> _Op:
    """Projection pushdown (reference keyset/_ops/_rules.py:114-165).

    - Project over CrossJoin splits per side and drops factors that
      contribute no projected column entirely — a projection of one
      factor of a 10^9-row product never materializes the product.
    - Nested/no-op projections collapse.

    Cross-join factors are independent by construction (disjoint columns,
    every combination present), so dropping a factor is exact, not an
    approximation.
    """
    if tuple(op.columns()) == cols:
        return op
    if isinstance(op, _Project):
        return _push_project(op.child, cols)
    if isinstance(op, _CrossJoin):
        lcols = tuple(c for c in cols if c in set(op.left.columns()))
        rcols = tuple(c for c in cols if c in set(op.right.columns()))
        if not lcols:
            return _reorder(_push_project(op.right, rcols), cols)
        if not rcols:
            return _reorder(_push_project(op.left, lcols), cols)
        return _reorder(
            _CrossJoin(
                _push_project(op.left, lcols), _push_project(op.right, rcols)
            ),
            cols,
        )
    return _Project(op, cols)


def _reorder(op: _Op, cols: Tuple[str, ...]) -> _Op:
    """Wrap in a reorder-only Project (no dedup) if order differs."""
    return op if tuple(op.columns()) == cols else _Project(op, cols, dedup=False)


# ---------------------------------------------------------------------------
# Canonicalization for equivalence checks (reference keyset/_ops/_rules.py:
# 240-465). These rewrites are used ONLY to decide is_equivalent — the
# canonical tree is never executed, so rules are free to restructure joins
# and unions without worrying about physical plan shape. Column order and
# row order are deliberately erased: two keysets with the same keys compare
# equal regardless of how they were assembled.


def _op_key(op: _Op):
    """Deterministic, hashable structural key for a CANONICAL op tree.

    FromTuples rows are reordered into sorted-column order and frozenset'd
    (row/column order is irrelevant to the key set); DataFrame sources key
    on object identity (same DataFrame object -> equal; different objects
    are undecidable and simply compare unequal here, which makes
    is_equivalent fall through to its None path)."""
    if isinstance(op, _FromTuples):
        scols = tuple(sorted(op.cols))
        idx = [op.cols.index(c) for c in scols]
        rows = frozenset(tuple(r[i] for i in idx) for r in op.rows)
        types = tuple((c, op.types[c].name) for c in scols)
        return ("T", scols, types, rows)
    if isinstance(op, _FromDataFrame):
        scols = tuple(sorted(op.types))
        types = tuple((c, op.types[c].name) for c in scols)
        return ("D", scols, types, id(op.df))
    if isinstance(op, _CrossJoin):
        return ("X", _op_key(op.left), _op_key(op.right))
    if isinstance(op, _Join):
        return ("J", _op_key(op.left), _op_key(op.right))
    if isinstance(op, _Subtract):
        return ("S", _op_key(op.left), _op_key(op.right))
    if isinstance(op, _Union):
        return ("U", _op_key(op.left), _op_key(op.right))
    if isinstance(op, _Project):
        return ("P", frozenset(op.cols), _op_key(op.child))
    if isinstance(op, _Filter):
        return ("F", str(op.condition), _op_key(op.child))
    raise TypeError(f"unknown op {type(op).__name__}")  # pragma: no cover


def _sort_key(op: _Op):
    """Ordering key for commutative reassembly: sorted columns first (the
    reference's rule), then the structural hash as a tiebreak."""
    return (tuple(sorted(op.columns())), hash(_op_key(op)))


def _cross_factors(op: _Op) -> List[_Op]:
    if isinstance(op, _CrossJoin):
        return _cross_factors(op.left) + _cross_factors(op.right)
    return [op]


def _canonical(op: _Op) -> _Op:
    """Rewrite an op tree into the canonical form used for equivalence:

    - nested / no-op projections collapse; projections split across
      cross-join factors, dropping factors that contribute nothing
      (project_across_crossjoin, collapse/remove projections);
    - cross joins flatten, drop empty (total-aggregation) factors, and
      sort their factors (merge_cross_joins + order_cross_joins);
    - cross-join factors sharing no columns with the other side are
      pulled out of joins and subtracts (extract_crossjoin_from_*);
    - join / union chains flatten and re-nest in sorted leaf order
      (normalize_joins, normalize_unions); subtract chains reorder
      their subtracted values (normalize_subtracts).
    """
    if isinstance(op, _Project):
        child = _canonical(op.child)
        if set(child.columns()) == set(op.cols):
            return child  # no-op up to column order
        if isinstance(child, _Project):
            return _canonical(_Project(child.child, op.cols))
        if isinstance(child, _CrossJoin):
            kept = []
            want = set(op.cols)
            for f in _cross_factors(child):
                fcols = tuple(c for c in f.columns() if c in want)
                if fcols:
                    kept.append(
                        f
                        if set(f.columns()) <= want
                        else _Project(f, fcols)
                    )
            if not kept:
                return _FromTuples((), {}, ((),))
            out = kept[0]
            for f in kept[1:]:
                out = _CrossJoin(out, f)
            return _canonical(out)
        return _Project(child, tuple(sorted(op.cols)))
    if isinstance(op, _CrossJoin):
        factors = [
            _canonical(f)
            for f in _cross_factors(op)
        ]
        # Flatten again: canonicalizing a factor may surface a CrossJoin.
        factors = [g for f in factors for g in _cross_factors(f)]
        nonempty = [f for f in factors if f.columns()]
        if not nonempty:
            return factors[0]
        nonempty.sort(key=_sort_key)
        out = nonempty[0]
        for f in nonempty[1:]:
            out = _CrossJoin(out, f)
        return out
    if isinstance(op, _Join):
        left, right = _canonical(op.left), _canonical(op.right)
        # Pull cross-join factors that share no columns with the other
        # side out of the join.
        extracted: List[_Op] = []
        for side_name, side, other in (
            ("L", left, right),
            ("R", right, left),
        ):
            if isinstance(side, _CrossJoin):
                other_cols = set(other.columns())
                stay = [
                    f
                    for f in _cross_factors(side)
                    if set(f.columns()) & other_cols
                ]
                out_f = [
                    f
                    for f in _cross_factors(side)
                    if not (set(f.columns()) & other_cols)
                ]
                if out_f and stay:
                    extracted.extend(out_f)
                    rebuilt = stay[0]
                    for f in stay[1:]:
                        rebuilt = _CrossJoin(rebuilt, f)
                    if side_name == "L":
                        left = rebuilt
                    else:
                        right = rebuilt
        if extracted:
            out = _Join(left, right)
            for f in extracted:
                out = _CrossJoin(out, f)
            return _canonical(out)
        # Flatten nested joins, sort leaves, re-nest right-deep.
        leaves: List[_Op] = []
        stack = [_Join(left, right)]
        while stack:
            cur = stack.pop()
            for child in (cur.left, cur.right):
                if isinstance(child, _Join):
                    stack.append(child)
                else:
                    leaves.append(child)
        leaves.sort(key=_sort_key, reverse=True)
        out = leaves[0]
        for leaf in leaves[1:]:
            out = _Join(leaf, out)
        return out
    if isinstance(op, _Union):
        leaves = []
        stack = [op]
        while stack:
            cur = stack.pop()
            for child in (cur.left, cur.right):
                if isinstance(child, _Union):
                    stack.append(child)
                else:
                    leaves.append(_canonical(child))
        leaves.sort(key=lambda o: hash(_op_key(o)), reverse=True)
        out = leaves[0]
        for leaf in leaves[1:]:
            out = _Union(leaf, out)
        return out
    if isinstance(op, _Subtract):
        rights = [_canonical(op.right)]
        cur = op.left
        while isinstance(cur, _Subtract):
            rights.append(_canonical(cur.right))
            cur = cur.left
        base = _canonical(cur)
        # Extract cross-join factors untouched by any subtraction.
        sub_cols = set().union(*(set(r.columns()) for r in rights))
        if isinstance(base, _CrossJoin):
            stay = [
                f
                for f in _cross_factors(base)
                if set(f.columns()) & sub_cols
            ]
            out_f = [
                f
                for f in _cross_factors(base)
                if not (set(f.columns()) & sub_cols)
            ]
            if out_f and stay:
                rebuilt = stay[0]
                for f in stay[1:]:
                    rebuilt = _CrossJoin(rebuilt, f)
                inner: _Op = rebuilt
                for r in sorted(rights, key=_sort_key):
                    inner = _Subtract(inner, r)
                out = inner
                for f in out_f:
                    out = _CrossJoin(out, f)
                return _canonical(out)
        rights.sort(key=_sort_key)
        out = base
        for r in rights:
            out = _Subtract(out, r)
        return out
    if isinstance(op, _Filter):
        return _Filter(_canonical(op.child), op.condition)
    return op


def _canonical_key(op: _Op):
    return _op_key(_canonical(op))


# ---------------------------------------------------------------------------


class KeySet:
    """An immutable set of group keys, lazily defined."""

    def __init__(self, op: _Op):
        self._op = op
        self._materialized: Optional[DataFrame] = None

    # Constructors ----------------------------------------------------------
    @classmethod
    def from_dict(
        cls, domains: Mapping[str, Union[Iterable, Any]]
    ) -> "KeySet":
        """Cross product of per-column domains. ``from_dict({})`` is the
        empty keyset = a single global group."""
        factors: List[_Op] = []
        for col, vals in domains.items():
            if isinstance(vals, (str, int, datetime.date)):
                vals = [vals]
            vals = list(vals)
            if not vals:
                raise ValueError(f"Domain for column {col!r} is empty")
            types = {v for v in vals if v is not None}
            tset = {_py_keyset_type(v) for v in types}
            if len(tset) > 1:
                raise ValueError(f"Mixed types in domain for column {col!r}")
            ctype = tset.pop() if tset else ColumnType.VARCHAR
            seen = dict.fromkeys(vals)
            factors.append(
                _FromTuples((col,), {col: ctype}, tuple((v,) for v in seen))
            )
        if not factors:
            return cls(_FromTuples((), {}, ((),)))
        op = factors[0]
        for f in factors[1:]:
            op = _CrossJoin(op, f)
        return cls(op)

    @classmethod
    def from_tuples(
        cls, tuples: Iterable[Tuple], columns: Sequence[str]
    ) -> "KeySet":
        cols = tuple(columns)
        rows = [tuple(t) for t in tuples]
        if not cols and rows:
            raise ValueError("Column names are required")
        types: Dict[str, ColumnType] = {}
        for i, c in enumerate(cols):
            tset = {
                _py_keyset_type(r[i]) for r in rows if r[i] is not None
            }
            if len(tset) > 1:
                raise ValueError(f"Mixed types in column {c!r}")
            types[c] = tset.pop() if tset else ColumnType.VARCHAR
        seen = dict.fromkeys(rows)
        return cls(_FromTuples(cols, types, tuple(seen)))

    @classmethod
    def from_dataframe(cls, dataframe: DataFrame) -> "KeySet":
        df = coerce_spark_schema(dataframe)
        sch = schema_from_spark(df.schema)
        types: Dict[str, ColumnType] = {}
        for c, d in sch.items():
            if d.column_type not in KEYSET_COLUMN_TYPES:
                raise ValueError(
                    f"KeySet column {c!r} has type {d.column_type.name}; only "
                    "INTEGER, DATE, and VARCHAR are allowed"
                )
            types[c] = d.column_type
        return cls(_FromDataFrame(df, types))

    @staticmethod
    def _detect(columns: Sequence[str]) -> "KeySetPlan":
        """A plan whose keys for ``columns`` are DP-discovered from the
        data via partition selection at evaluation time (reference
        ``keyset/_keyset.py:202-204`` ``Detect`` op; requires ApproxDP)."""
        return KeySetPlan(tuple(columns))

    # Algebra ---------------------------------------------------------------
    def __mul__(self, other: Union["KeySet", "KeySetPlan"]) -> Union["KeySet", "KeySetPlan"]:
        if isinstance(other, KeySetPlan):
            return other.__rmul__(self)
        overlap = set(self.columns()) & set(other.columns())
        if overlap:
            raise ValueError(f"Cannot cross-join KeySets sharing columns {overlap}")
        return KeySet(_CrossJoin(self._op, other._op))

    def join(self, other: "KeySet") -> "KeySet":
        overlap = set(self.columns()) & set(other.columns())
        if not overlap:
            raise ValueError("KeySet join requires at least one shared column")
        return KeySet(_Join(self._op, other._op))

    def __sub__(self, other: "KeySet") -> "KeySet":
        if not set(other.columns()) <= set(self.columns()):
            raise ValueError(
                "Subtracted KeySet's columns must be a subset of this KeySet's"
            )
        return KeySet(_Subtract(self._op, other._op))

    def union(self, other: "KeySet") -> "KeySet":
        if set(other.columns()) != set(self.columns()):
            raise ValueError("Unioned KeySets must have the same columns")
        return KeySet(_Union(self._op, other._op))

    __or__ = union

    def __getitem__(
        self, columns: Union[str, Sequence[str]]
    ) -> "KeySet":
        if isinstance(columns, str):
            columns = (columns,)
        columns = tuple(columns)
        missing = set(columns) - set(self.columns())
        if missing:
            raise ValueError(f"Columns not in KeySet: {missing}")
        return KeySet(_push_project(self._op, columns))

    def filter(self, condition: Union[str, Column]) -> "KeySet":
        return KeySet(_Filter(self._op, condition))

    # Introspection ---------------------------------------------------------
    def columns(self) -> Tuple[str, ...]:
        return self._op.columns()

    def schema(self) -> Schema:
        return Schema({c: t for c, t in self._op.schema().items()})

    def column_types(self) -> Dict[str, ColumnType]:
        return self._op.schema()

    def is_empty(self) -> bool:
        """True for the empty keyset (single global group, no columns)."""
        return len(self.columns()) == 0

    # Materialization -------------------------------------------------------
    def dataframe(self) -> DataFrame:
        """Materialize as a deduplicated DataFrame (column order preserved)."""
        if self._materialized is None:
            # Every op yields distinct rows: sources, unions and projections
            # dedup in to_df(); joins, cross products, anti-joins and
            # filters of distinct inputs stay distinct.
            self._materialized = self._op.to_df()
        return self._materialized

    def local_rows(self) -> Optional[List[Tuple]]:
        """Driver-side rows when the keyset is small and literal, else None."""
        return self._op.local_rows()

    def estimated_size(self) -> Optional[int]:
        """Upper-bound row estimate when cheaply known (driver-side
        literals and their products), else None. Used by the compiler to
        decide broadcast vs shuffled keyset joins."""
        return self._op.estimated_size()

    def cache(self) -> "KeySet":
        self.dataframe().cache()
        return self

    def uncache(self) -> "KeySet":
        if self._materialized is not None:
            self._materialized.unpersist()
        return self

    def size(self) -> int:
        rows = self.local_rows()
        if rows is not None:
            return len(rows)
        return self.dataframe().count()

    def is_equivalent(self, other) -> Optional[bool]:
        """Cheap equivalence check that never evaluates the full keyset
        DataFrame (reference ``keyset/_keyset.py:506-533``): returns
        True/False when decidable from the op tree / driver-side rows /
        column types, else None.
        """
        if not isinstance(other, KeySet):
            # A KeySet and a KeySetPlan are never equivalent, but
            # accepting either avoids user confusion (reference :516).
            return False
        # Canonicalize both op trees (cross-join merge/order, projection
        # pushdown, join/union/subtract normalization — reference
        # keyset/_ops/_rules.py:240-465) and compare structural keys:
        # structurally different assemblies of the same keys decide True
        # here without touching any DataFrame.
        if _canonical_key(self._op) == _canonical_key(other._op):
            return True
        if set(self.columns()) != set(other.columns()):
            return False
        a, b = self.local_rows(), other.local_rows()
        if a is not None and b is not None:
            # Driver-side rows: exact, still cheap.
            return self == other
        if self.column_types() != {
            c: other.column_types()[c] for c in self.columns()
        }:
            return False
        return None

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, KeySet):
            return NotImplemented
        if set(self.columns()) != set(other.columns()):
            return False
        a, b = self.local_rows(), other.local_rows()
        if a is not None and b is not None:
            cols_a, cols_b = self.columns(), other.columns()
            idx = [cols_a.index(c) for c in cols_b]
            a_norm = {tuple(r[i] for i in idx) for r in a}
            return a_norm == set(b)
        left, right = self.dataframe(), other.dataframe().select(*self.columns())
        return (
            left.exceptAll(right).isEmpty() and right.exceptAll(left).isEmpty()
        )

    def __hash__(self) -> int:
        return hash(tuple(sorted(self.columns())))

    def __repr__(self) -> str:  # pragma: no cover - cosmetic
        return f"KeySet(columns={list(self.columns())})"


class KeySetPlan:
    """A keyset whose keys are partially discovered from data.

    Mirrors the reference's ``KeySetPlan`` (``keyset/_keyset.py:622-660``):
    fixed factors (an ordinary :class:`KeySet`, or none) crossed with
    columns whose keys must be DP-detected via partition selection by a
    Session at evaluation time. Cannot produce a DataFrame on its own.
    """

    def __init__(
        self,
        detect_columns: Tuple[str, ...],
        fixed: Optional[KeySet] = None,
        post: Tuple[tuple, ...] = (),
    ):
        if not detect_columns:
            raise ValueError("KeySetPlan requires at least one detect column")
        if fixed is not None:
            overlap = set(fixed.columns()) & set(detect_columns)
            if overlap:
                raise ValueError(
                    f"Detected and fixed columns overlap: {overlap}"
                )
        self.detect_columns = tuple(detect_columns)
        self.fixed = fixed
        #: Deferred algebra applied AFTER detection, in order — the
        #: reference's KeySetPlan participates in the full keyset algebra
        #: (filter/project/join/subtract/union, keyset/_keyset.py:663-808);
        #: here each op is recorded and replayed on the detected KeySet.
        self.post = tuple(post)

    def _with_post(self, op: str, arg) -> "KeySetPlan":
        return KeySetPlan(
            self.detect_columns, self.fixed, self.post + ((op, arg),)
        )

    def columns(self) -> Tuple[str, ...]:
        fixed_cols = self.fixed.columns() if self.fixed else ()
        cols = list(fixed_cols) + list(self.detect_columns)
        for op, arg in self.post:
            if op == "project":
                cols = list(arg)
            elif op in ("join", "cross"):
                cols += [c for c in arg.columns() if c not in cols]
            # filter/subtract/union keep columns unchanged
        return tuple(cols)

    def known_column_types(self) -> Dict[str, ColumnType]:
        """Types for plan columns that come from concrete keysets (fixed
        factor, joined/crossed keysets); detect columns are resolved from
        the child schema at compile time."""
        out: Dict[str, ColumnType] = {}
        if self.fixed is not None:
            out.update(self.fixed.column_types())
        for op, arg in self.post:
            if op in ("join", "cross", "union", "subtract"):
                out.update(arg.column_types())
        return out

    def resolve(self, detected: KeySet) -> KeySet:
        """Concrete KeySet: fixed x detected, then the deferred ops."""
        ks = self.fixed * detected if self.fixed is not None else detected
        for op, arg in self.post:
            if op == "filter":
                ks = ks.filter(arg)
            elif op == "project":
                ks = ks[list(arg)]
            elif op == "join":
                ks = ks.join(arg)
            elif op == "subtract":
                ks = ks - arg
            elif op == "union":
                ks = ks.union(arg)
            elif op == "cross":
                ks = ks * arg
            else:  # pragma: no cover - internal invariant
                raise ValueError(f"Unknown KeySetPlan op {op!r}")
        return ks

    def filter(self, condition: Union[str, Column]) -> "KeySetPlan":
        return self._with_post("filter", condition)

    def is_equivalent(self, other) -> Optional[bool]:
        """Cheap equivalence check that never evaluates any DataFrame
        (reference ``keyset/_keyset.py:809-833``): True when the plans
        are structurally identical, False when clearly different, None
        when undecidable without detection."""
        if not isinstance(other, KeySetPlan):
            return False
        if set(self.detect_columns) != set(other.detect_columns):
            return False
        if len(self.post) != len(other.post):
            return None
        for (op_a, arg_a), (op_b, arg_b) in zip(self.post, other.post):
            if op_a != op_b:
                return None
            if isinstance(arg_a, KeySet) and isinstance(arg_b, KeySet):
                if arg_a.is_equivalent(arg_b) is not True:
                    return None
            elif arg_a != arg_b:
                return None
        if (self.fixed is None) != (other.fixed is None):
            return None
        if self.fixed is not None:
            eq = self.fixed.is_equivalent(other.fixed)
            if eq is False:
                return False
            if eq is None:
                return None
        return True

    def __getitem__(self, cols: Union[str, Sequence[str]]) -> "KeySetPlan":
        cols = (cols,) if isinstance(cols, str) else tuple(cols)
        missing = [c for c in cols if c not in self.columns()]
        if missing:
            raise ValueError(f"Columns not in plan: {missing}")
        if any(c in self.detect_columns for c in self.columns() if c not in cols):
            # Projecting away a detect column would change what partition
            # selection runs on; match the reference in refusing.
            dropped = [
                c for c in self.detect_columns if c not in cols
            ]
            if dropped:
                raise ValueError(
                    f"Cannot project away detected columns {dropped}"
                )
        return self._with_post("project", cols)

    def join(self, other: KeySet) -> "KeySetPlan":
        if not isinstance(other, KeySet):
            raise TypeError("KeySetPlan.join expects a concrete KeySet")
        return self._with_post("join", other)

    def __sub__(self, other: KeySet) -> "KeySetPlan":
        if not isinstance(other, KeySet):
            raise TypeError("KeySetPlan.__sub__ expects a concrete KeySet")
        return self._with_post("subtract", other)

    def union(self, other: KeySet) -> "KeySetPlan":
        if not isinstance(other, KeySet):
            raise TypeError("KeySetPlan.union expects a concrete KeySet")
        return self._with_post("union", other)

    def __mul__(self, other: Union[KeySet, "KeySetPlan"]) -> "KeySetPlan":
        if isinstance(other, KeySetPlan):
            if self.post or other.post:
                raise ValueError(
                    "Cannot cross two KeySetPlans after other plan ops"
                )
            fixed = self.fixed
            if other.fixed is not None:
                fixed = fixed * other.fixed if fixed else other.fixed
            return KeySetPlan(self.detect_columns + other.detect_columns, fixed)
        if self.post:
            return self._with_post("cross", other)
        return KeySetPlan(
            self.detect_columns,
            self.fixed * other if self.fixed else other,
        )

    def __rmul__(self, other: KeySet) -> "KeySetPlan":
        if self.post:
            return self._with_post("cross", other)
        return KeySetPlan(
            self.detect_columns,
            other * self.fixed if self.fixed else other,
        )

    def __repr__(self) -> str:  # pragma: no cover - cosmetic
        return (
            f"KeySetPlan(detect={list(self.detect_columns)}, "
            f"fixed={self.fixed!r}, post={[op for op, _ in self.post]})"
        )
