"""Session: the interactive DP container.

Fresh implementation of the behavior documented at
``/root/reference/src/tmlt/analytics/session.py``: private/public table
registry, privacy-budget ledger (sequential composition), evaluate /
create_view / delete_view / partition_and_create, schema introspection, and
noise introspection. Compilation is lazy PySpark and noise-free;
``evaluate`` releases the result: a finite-budget answer of at most
``KEYSET_BROADCAST_LIMIT`` rows gets its noise on the driver and comes back
as a local relation, a larger one gets it in one Spark Arrow pass pinned by
``localCheckpoint``, and an infinite-budget answer stays a lazy plan.
"""

from __future__ import annotations

from dataclasses import replace as dc_replace
from typing import Any, Dict, List, Mapping, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .budget import ApproxDPBudget, PrivacyBudget, PureDPBudget, RhoZCDPBudget
from .builder import Query, QueryBuilder
from .constraints import Constraint, MaxGroupsPerID, MaxRowsPerID
from .keyset import KeySet
from .plans import expr as E
from .plans.compiler import (
    CompileContext,
    CompiledTable,
    SourceTable,
    compile_measurement,
    compile_transform,
)
from .plans.rewrite import rewrite
from .protected import AddMaxRowsInMaxGroups, AddRowsWithID, ProtectedChange
from .schema import Schema, coerce_spark_schema, schema_from_spark


class Session:
    """Holds private data and a privacy budget; the only way to execute."""

    # ------------------------------------------------------------------
    class Builder:
        def __init__(self):
            self._budget: Optional[PrivacyBudget] = None
            self._private: Dict[str, tuple] = {}
            self._public: Dict[str, DataFrame] = {}
            self._id_spaces: List[str] = []

        def with_privacy_budget(self, privacy_budget: PrivacyBudget) -> "Session.Builder":
            self._budget = privacy_budget
            return self

        def with_private_dataframe(
            self,
            source_id: str,
            dataframe: DataFrame,
            protected_change: ProtectedChange,
        ) -> "Session.Builder":
            # Duplicate-source check, matching the reference's builder
            # (_base_builder.py:107): silently replacing a registered
            # table would change which data a later query touches.
            if source_id in self._private or source_id in self._public:
                raise ValueError(f"Table '{source_id}' already exists")
            self._private[source_id] = (dataframe, protected_change)
            return self

        def with_public_dataframe(
            self, source_id: str, dataframe: DataFrame
        ) -> "Session.Builder":
            if source_id in self._private or source_id in self._public:
                raise ValueError(f"Table '{source_id}' already exists")
            self._public[source_id] = dataframe
            return self

        def with_id_space(self, id_space: str) -> "Session.Builder":
            if id_space in self._id_spaces:
                raise ValueError(f"ID space '{id_space}' already exists")
            self._id_spaces.append(id_space)
            return self

        def build(self) -> "Session":
            if self._budget is None:
                raise ValueError("A privacy budget is required")
            if not self._private:
                raise ValueError("At least one private dataframe is required")
            sess = Session(self._budget)
            for sid, (df, pc) in self._private.items():
                sess._register_private(sid, df, pc)
            for sid, df in self._public.items():
                sess.add_public_dataframe(sid, df)
            return sess

    # ------------------------------------------------------------------
    def __init__(self, privacy_budget: PrivacyBudget):
        self._initial_budget = privacy_budget
        self._remaining = privacy_budget
        self._private: Dict[str, SourceTable] = {}
        self._public: Dict[str, DataFrame] = {}
        self._views: Dict[str, CompiledTable] = {}
        self._view_cached: Dict[str, bool] = {}
        #: Accountant lifecycle (reference PrivacyAccountantState,
        #: session.py:1729-1748): "active" | "waiting_for_children" |
        #: "waiting_for_sibling" | "retired".
        self._state = "active"
        self._children: List["Session"] = []
        self._parent: Optional["Session"] = None
        self._siblings: List["Session"] = []
        self._sibling_index = 0
        #: Constraints known to hold on a source's data at registration
        #: (populated for partition_and_create children: the parent's
        #: already-enforced truncations carry over).
        self._source_constraints: Dict[str, List[Constraint]] = {}

    @classmethod
    def from_dataframe(
        cls,
        privacy_budget: PrivacyBudget,
        source_id: str,
        dataframe: DataFrame,
        protected_change: ProtectedChange,
    ) -> "Session":
        return (
            cls.Builder()
            .with_privacy_budget(privacy_budget)
            .with_private_dataframe(source_id, dataframe, protected_change)
            .build()
        )

    # --- registration --------------------------------------------------
    def _register_private(
        self, source_id: str, df: DataFrame, pc: ProtectedChange
    ) -> None:
        if source_id in self._private or source_id in self._public:
            raise ValueError(f"Table {source_id!r} already exists")
        df = coerce_spark_schema(df)
        if isinstance(pc, AddRowsWithID):
            if pc.id_column not in df.columns:
                raise ValueError(
                    f"ID column {pc.id_column!r} not in dataframe columns"
                )
            schema = schema_from_spark(
                df.schema, id_column=pc.id_column, id_space=pc.id_space
            )
        elif isinstance(pc, AddMaxRowsInMaxGroups):
            # Rows-in-groups protection: group-by queries must include the
            # grouping column (reference IfGroupedBy metric,
            # _neighboring_relation_visitor.py:137; session.py:810-825).
            if pc.grouping_column not in df.columns:
                raise ValueError(
                    f"Grouping column {pc.grouping_column!r} not in dataframe"
                )
            schema = schema_from_spark(
                df.schema, grouping_column=pc.grouping_column
            )
        else:
            schema = schema_from_spark(df.schema)
        self._private[source_id] = SourceTable(df, schema, pc)

    def add_public_dataframe(self, source_id: str, dataframe: DataFrame) -> None:
        if source_id in self._public or source_id in self._private:
            raise ValueError(f"Table {source_id!r} already exists")
        self._public[source_id] = coerce_spark_schema(dataframe)

    # --- introspection -------------------------------------------------
    @property
    def private_sources(self) -> List[str]:
        return list(self._private) + list(self._views)

    @property
    def public_sources(self) -> List[str]:
        return list(self._public)

    @property
    def public_source_dataframes(self) -> Dict[str, DataFrame]:
        return dict(self._public)

    @property
    def remaining_privacy_budget(self) -> PrivacyBudget:
        return self._remaining

    def get_schema(self, source_id: str) -> Schema:
        return self._catalog()[source_id]

    def get_column_types(self, source_id: str) -> Dict[str, Any]:
        return {c: d.column_type for c, d in self.get_schema(source_id).items()}

    def get_grouping_column(self, source_id: str) -> Optional[str]:
        return self.get_schema(source_id).grouping_column

    def get_id_column(self, source_id: str) -> Optional[str]:
        return self.get_schema(source_id).id_column

    def get_id_space(self, source_id: str) -> Optional[str]:
        return self.get_schema(source_id).id_space

    def _table_constraints(self, name: str) -> List[Constraint]:
        """Constraints known to hold for a table: registered source
        constraints (partition children) or the view's enforced
        constraints (reference tracks `_table_constraints` the same way,
        session.py:330,672)."""
        if name in self._views:
            return list(self._views[name].constraints)
        return list(self._source_constraints.get(name, []))

    def describe(self, query_or_source: Union[str, Query, QueryBuilder, None] = None) -> None:
        """Pretty-print schemas, constraints and lifecycle state
        (reference session.py:550-736)."""
        catalog = self._catalog()
        if query_or_source is None:
            if self._state == "retired":
                print("This session has been stopped, and can no longer be used.")
            elif self._state == "waiting_for_children":
                print(
                    "This session is waiting for its children (created with"
                    " `partition_and_create`) to finish."
                )
            elif self._state == "waiting_for_sibling":
                print(
                    "This session is waiting for its sibling(s) (created with"
                    " `partition_and_create`) to finish."
                )
            print(f"Sessions with remaining budget: {self._remaining!r}")
            for name in self.private_sources:
                cons = self._table_constraints(name)
                suffix = " (no constraints)" if not cons else ""
                print(f"\nTable {name!r} (private){suffix}:")
                self._describe_schema(catalog[name])
                if cons:
                    print("  Constraints:")
                    for c in cons:
                        print(f"    - {c}")
            for name in self._public:
                print(f"\nTable {name!r} (public):")
                self._describe_schema(schema_from_spark(self._public[name].schema))
            return
        if isinstance(query_or_source, str):
            self._describe_schema(catalog[query_or_source])
            cons = self._table_constraints(query_or_source)
            if cons:
                print("  Constraints:")
                for c in cons:
                    print(f"    - {c}")
            return
        expr = (
            query_or_source.expr
            if isinstance(query_or_source, Query)
            else query_or_source._expr
        )
        self._describe_schema(expr.schema(catalog))
        # Transformation queries also report the constraints that hold on
        # their output (reference session.py:710-726); measurements have
        # no constraints.
        if not isinstance(expr, E.MEASUREMENT_NODES):
            try:
                t = compile_transform(expr, self._context())
            except Exception:
                return
            if t.constraints:
                print("  Constraints:")
                for c in t.constraints:
                    print(f"    - {c}")

    @staticmethod
    def _describe_schema(schema: Schema) -> None:
        rows = [
            (
                c,
                d.column_type.name,
                "yes" if d.allow_null else "no",
                "yes" if d.allow_nan else "no",
                "yes" if d.allow_inf else "no",
            )
            for c, d in schema.items()
        ]
        widths = [
            max(len(h), *(len(r[i]) for r in rows)) if rows else len(h)
            for i, h in enumerate(["column", "type", "null", "nan", "inf"])
        ]
        header = ["column", "type", "null", "nan", "inf"]
        print("  " + "  ".join(h.ljust(w) for h, w in zip(header, widths)))
        for r in rows:
            print("  " + "  ".join(v.ljust(w) for v, w in zip(r, widths)))
        if schema.id_column:
            print(f"  id_column: {schema.id_column} (space {schema.id_space})")
        if schema.grouping_column:
            print(f"  grouping_column: {schema.grouping_column}")

    # --- internals -----------------------------------------------------
    def _catalog(self) -> Dict[str, Schema]:
        cat = {sid: st.schema for sid, st in self._private.items()}
        cat.update({name: v.schema for name, v in self._views.items()})
        cat.update(
            {sid: schema_from_spark(df.schema) for sid, df in self._public.items()}
        )
        return cat

    def _context(self) -> CompileContext:
        return CompileContext(
            private_tables=self._private,
            public_tables=self._public,
            catalog=self._catalog(),
            views=self._views,
            source_constraints=self._source_constraints,
        )

    def _check_active(self) -> None:
        if self._state == "retired":
            raise RuntimeError(
                "This session has been stopped; no new queries can be performed"
            )

    def _retire(self) -> None:
        self._state = "retired"
        for c in self._children:
            if c._state != "retired":
                c._retire()
        # In-order lifecycle: retiring a partition child activates the
        # next sibling; retiring the last child reactivates the parent.
        if self._siblings:
            nxt = next(
                (s for s in self._siblings if s._state != "retired"), None
            )
            if nxt is not None and nxt._state == "waiting_for_sibling":
                nxt._state = "active"
            if nxt is None and self._parent is not None and (
                self._parent._state == "waiting_for_children"
            ):
                self._parent._state = "active"

    def _activate(self) -> None:
        """Reference `_activate_accountant` (session.py:1729-1748):
        partition children must be used in creation order; using a
        later sibling or the parent retires the out-of-turn sessions,
        with a warning (the reference warns and force-activates)."""
        self._check_active()
        if self._state == "active":
            return
        import warnings

        if self._state == "waiting_for_sibling":
            warnings.warn(
                "Activating a Session that is waiting for one of its "
                "siblings to finish may cause unexpected behavior."
            )
            for s in self._siblings[: self._sibling_index]:
                if s._state != "retired":
                    s._retire()
        elif self._state == "waiting_for_children":
            warnings.warn(
                "Activating a Session that is waiting for its children "
                "(created with partition_and_create) to finish may cause "
                "unexpected behavior."
            )
            for c in self._children:
                if c._state != "retired":
                    c._retire()
        self._state = "active"

    def _check_budget_type(self, budget: PrivacyBudget) -> None:
        if type(budget) is not type(self._initial_budget):
            # PureDP queries are allowed on ApproxDP sessions (eps, 0).
            if isinstance(self._initial_budget, ApproxDPBudget) and isinstance(
                budget, PureDPBudget
            ):
                return
            raise ValueError(
                f"Budget type mismatch: session uses "
                f"{type(self._initial_budget).__name__}, query requested "
                f"{type(budget).__name__}"
            )

    def _spend(self, budget: PrivacyBudget) -> None:
        if isinstance(self._initial_budget, ApproxDPBudget) and isinstance(
            budget, PureDPBudget
        ):
            budget = ApproxDPBudget(budget.epsilon, 0)
        self._remaining = self._remaining.subtract(budget)

    # --- the three entry points ---------------------------------------
    def evaluate(self, query: Query, privacy_budget: PrivacyBudget) -> DataFrame:
        """Execute a measurement query, deduct budget, return noisy result.

        Finite-budget noise is drawn exactly once per released value
        (mirroring the reference, where tmlt.core's SparkMeasurement
        writes noisy outputs to temp tables): a lazy sampler would redraw
        on every Spark action, and collecting N times would average the
        noise away. The noiseless aggregate is collected once as Arrow
        when it has at most ``KEYSET_BROADCAST_LIMIT`` rows; one numpy
        kernel adds every column's noise on the driver, and the answer
        is built over that local relation, where the noise is plain data.
        Above the cap the same kernel runs as one ``mapInArrow`` pass and
        ``localCheckpoint(eager=True)`` pins its single draw (a lost
        block fails the job rather than silently resampling).
        Infinite-budget results are deterministic and stay fully lazy.
        """
        self._activate()
        self._check_budget_type(privacy_budget)
        expr = query.expr if isinstance(query, Query) else query
        ctx = self._context()
        expr.schema(ctx.catalog)  # validate with user-facing errors first
        expr = rewrite(expr, ctx.catalog)
        result = compile_measurement(expr, ctx, privacy_budget)
        self._spend(self._actual_spend(expr, privacy_budget))
        return result.release()

    @staticmethod
    def _actual_spend(expr, privacy_budget: PrivacyBudget) -> PrivacyBudget:
        """ApproxDP delta-zeroing (reference
        _base_measurement_visitor.py:591-668): Laplace-family queries
        satisfy (epsilon, 0)-DP, so requesting (epsilon, delta) only
        deducts (epsilon, 0). Partition selection (get_groups / detected
        keysets) genuinely consumes delta and is exempt."""
        from .budget import ApproxDPBudget
        from .plans import expr as E

        if not isinstance(privacy_budget, ApproxDPBudget):
            return privacy_budget
        if privacy_budget.is_infinite():
            return privacy_budget
        node = expr
        while node is not None:
            if isinstance(node, E.GetGroups):
                return privacy_budget
            if isinstance(
                getattr(node, "groupby_keys", None), E.AutoPartitionKeys
            ):
                return privacy_budget
            node = getattr(node, "child", None) if isinstance(
                node, E.SuppressAggregates
            ) else None
        return ApproxDPBudget(privacy_budget.epsilon, 0)

    def _noise_info(self, query: Query, privacy_budget: PrivacyBudget) -> List[dict]:
        """Mechanism + parameter per noisy quantity (reference
        session.py:1001-1048); does not spend budget."""
        ctx = self._context()
        ctx.introspection_only = True
        expr = rewrite(query.expr, ctx.catalog)
        result = compile_measurement(expr, ctx, privacy_budget)
        return [i.as_dict() for i in result.noise_infos]

    def create_view(
        self, query_expr: Union[Query, QueryBuilder], source_id: str, cache: bool = False
    ) -> None:
        """Register a transformation-only query as a named view; optional
        persist (reference session.py:1154-1246)."""
        self._activate()
        if source_id in self._private or source_id in self._views:
            raise ValueError(f"Table {source_id!r} already exists")
        expr = (
            query_expr.expr if isinstance(query_expr, Query) else query_expr._expr
        )
        if isinstance(expr, E.MEASUREMENT_NODES):
            raise ValueError("Views must be transformation-only queries")
        ctx = self._context()
        t = compile_transform(expr, ctx)
        if cache:
            t.df.persist()
        self._views[source_id] = t
        self._view_cached[source_id] = cache

    def delete_view(self, source_id: str) -> None:
        self._check_active()
        v = self._views.pop(source_id, None)
        if v is None:
            raise KeyError(f"No view named {source_id!r}")
        if self._view_cached.pop(source_id, False):
            v.df.unpersist()

    def partition_and_create(
        self,
        source_id: str,
        privacy_budget: PrivacyBudget,
        column: str,
        splits: Union[Mapping[str, Any], Sequence[Any]],
    ) -> Dict[str, "Session"]:
        """Split into per-partition child sessions
        (reference session.py:1466-1654). Spends ``privacy_budget`` once;
        each child gets the full amount (parallel composition over disjoint
        partitions)."""
        self._activate()
        self._check_budget_type(privacy_budget)
        ctx = self._context()
        if source_id in self._views:
            base = self._views[source_id]
        else:
            base = compile_transform(E.PrivateSource(source_id), ctx)
        schema = base.schema
        if column not in schema:
            raise KeyError(f"Partition column {column!r} not in {source_id!r}")
        if base.is_ids:
            groups_c = [
                c
                for c in base.constraints
                if isinstance(c, MaxGroupsPerID) and c.grouping_column == column
            ]
            rows_c = [c for c in base.constraints if isinstance(c, MaxRowsPerID)]
            if not groups_c and not rows_c:
                raise ValueError(
                    "partition_and_create on an ID table requires a prior "
                    "MaxGroupsPerID or MaxRowsPerID constraint"
                )
        if isinstance(splits, Mapping):
            split_items = list(splits.items())
        else:
            split_items = [(str(v), v) for v in splits]
        children: Dict[str, Session] = {}
        for name, value in split_items:
            part_df = base.df.filter(F.col(column).eqNullSafe(F.lit(value)))
            child = Session(privacy_budget)
            pc: ProtectedChange
            if base.is_ids:
                pc = AddRowsWithID(schema.id_column, schema.id_space)
            else:
                from .protected import AddMaxRows

                pc = AddMaxRows(int(base.l1))
            # Reference semantics (session.py:1523-1530): the child's
            # table is exposed under the SPLIT NAME, not the parent's
            # source id — `new_sessions["part0"].private_sources` is
            # ['part0'] and queries address QueryBuilder("part0").
            child._register_private(name, part_df, pc)
            if base.constraints:
                # The parent's enforced truncations are facts about
                # part_df; children inherit them so ID-table queries work
                # without re-enforcing.
                child._source_constraints[name] = list(base.constraints)
            children[name] = child
            self._children.append(child)
        # Reference lifecycle (session.py:1481-1482): children must be
        # used in creation order; the parent waits on them, and re-using
        # the parent (or stop()) retires every child.
        ordered = list(children.values())
        for i, child in enumerate(ordered):
            child._parent = self
            child._siblings = ordered
            child._sibling_index = i
            child._state = "active" if i == 0 else "waiting_for_sibling"
        self._state = "waiting_for_children"
        self._spend(privacy_budget)
        return children

    def stop(self) -> None:
        """Retire this session and every partition child (reference
        session.py:1750-1752)."""
        self._retire()
