"""KeySet algebra semantics mirroring the reference's unit suite
(``test/unit/keysets/test_keyset.py``): construction dedup/coercion,
null keys, filter, project, cross product, equality, size."""

import datetime

import pandas as pd
import pytest

from tumult_analytics_spark import KeySet

D1 = datetime.date(2022, 1, 1)
D2 = datetime.date(2022, 1, 2)


def test_from_dict_cross_product(spark):
    ks = KeySet.from_dict({"a": [1, 2], "b": ["x", "y"]})
    got = {(r["a"], r["b"]) for r in ks.dataframe().collect()}
    assert got == {(1, "x"), (1, "y"), (2, "x"), (2, "y")}
    assert ks.size() == 4


def test_from_dict_rejects_floats_and_timestamps(spark):
    with pytest.raises(ValueError):
        KeySet.from_dict({"a": [1.5]})
    with pytest.raises(ValueError):
        KeySet.from_dict({"a": [datetime.datetime(2022, 1, 1, 12)]})


def test_from_tuples_dedup(spark):
    ks = KeySet.from_tuples([(1, "x"), (1, "x"), (2, "y")], columns=["a", "b"])
    assert ks.size() == 2


def test_from_dataframe_dedup_and_coercion(spark):
    df = spark.createDataFrame(
        [[1, "x"], [1, "x"], [2, "y"]], "a int, b string"
    )
    ks = KeySet.from_dataframe(df)
    assert ks.size() == 2
    # Int coerced to Long in the keyset dataframe
    assert dict(ks.dataframe().dtypes)["a"] == "bigint"


def test_from_dataframe_rejects_decimal(spark):
    df = spark.createDataFrame([[1.5]], "a double")
    with pytest.raises(ValueError):
        KeySet.from_dataframe(df)


def test_null_keys_preserved(spark):
    ks = KeySet.from_tuples([(None,), ("x",)], columns=["a"])
    got = {r["a"] for r in ks.dataframe().collect()}
    assert got == {None, "x"}
    assert ks.size() == 2


def test_dates_in_keysets(spark):
    ks = KeySet.from_dict({"d": [D1, D2]})
    got = sorted(r["d"] for r in ks.dataframe().collect())
    assert got == [D1, D2]


def test_filter_string_and_to_empty(spark):
    ks = KeySet.from_dict({"a": [1, 2, 3]})
    assert ks.filter("a > 1").size() == 2
    assert ks.filter("a > 99").size() == 0
    assert ks.filter("a > 99").dataframe().columns == ["a"]


def test_getitem_str_and_list(spark):
    ks = KeySet.from_dict({"a": [1, 2], "b": ["x"], "c": ["y", "z"]})
    assert ks["a"].columns() == ("a",)
    assert ks["a"].size() == 2
    sub = ks[["a", "c"]]
    assert set(sub.columns()) == {"a", "c"}
    assert sub.size() == 4


def test_cross_product_rejects_overlap(spark):
    with pytest.raises(ValueError, match="columns"):
        KeySet.from_dict({"a": [1]}) * KeySet.from_dict({"a": [2]})


def test_join_on_shared_column(spark):
    k1 = KeySet.from_tuples([(1, "x"), (2, "y"), (None, "z")], columns=["a", "b"])
    k2 = KeySet.from_tuples([(1, "p"), (1, "q"), (None, "r")], columns=["a", "c"])
    joined = k1.join(k2)
    got = {(r["a"], r["b"], r["c"]) for r in joined.dataframe().collect()}
    # null keys match each other (reference join_on_nulls=True)
    assert got == {(1, "x", "p"), (1, "x", "q"), (None, "z", "r")}


def test_join_requires_shared_column(spark):
    with pytest.raises(ValueError, match="shared"):
        KeySet.from_dict({"a": [1]}).join(KeySet.from_dict({"b": [2]}))


def test_subtract_and_union(spark):
    k = KeySet.from_tuples([(1,), (2,), (3,), (None,)], columns=["a"])
    minus = k - KeySet.from_tuples([(2,), (None,)], columns=["a"])
    assert {r["a"] for r in minus.dataframe().collect()} == {1, 3}
    both = minus | KeySet.from_tuples([(9,)], columns=["a"])
    assert both.size() == 3


def test_union_requires_same_columns(spark):
    with pytest.raises(ValueError, match="same columns"):
        KeySet.from_dict({"a": [1]}) | KeySet.from_dict({"b": [1]})


def test_equality_order_insensitive(spark):
    k1 = KeySet.from_tuples([(1, "x"), (2, "y")], columns=["a", "b"])
    k2 = KeySet.from_tuples([("y", 2), ("x", 1)], columns=["b", "a"])
    assert k1 == k2
    k3 = KeySet.from_tuples([(1, "x")], columns=["a", "b"])
    assert k1 != k3


def test_cache_uncache_roundtrip(spark):
    ks = KeySet.from_dict({"a": list(range(100))})
    ks.cache()
    assert ks.size() == 100
    ks.uncache()
    assert ks.size() == 100


def test_empty_keyset_is_global_group(spark):
    ks = KeySet.from_dict({})
    assert ks.columns() == ()
    assert ks.is_empty()
    # The single global group: one row of no columns.
    df = ks.dataframe()
    assert df.columns == [] and df.count() == 1


def test_is_equivalent_cheap_paths(spark):
    a = KeySet.from_dict({"x": [1, 2], "y": ["p", "q"]})
    b = KeySet.from_dict({"y": ["p", "q"], "x": [1, 2]})
    c = KeySet.from_dict({"x": [1, 3], "y": ["p", "q"]})
    assert a.is_equivalent(a) is True
    # Same rows, different construction order: decidable driver-side.
    assert a.is_equivalent(b) is True
    assert a.is_equivalent(c) is False
    # Different columns -> definitely not equivalent.
    assert a.is_equivalent(KeySet.from_dict({"z": [1]})) is False
    # A plan is never equivalent to a concrete KeySet.
    plan = KeySet._detect(["x"]) if hasattr(KeySet, "_detect") else None
    if plan is not None:
        assert a.is_equivalent(plan) is False


def test_query_equality():
    from tumult_analytics_spark import QueryBuilder

    q1 = QueryBuilder("t").filter("a > 1").count(name="n")
    q2 = QueryBuilder("t").filter("a > 1").count(name="n")
    q3 = QueryBuilder("t").filter("a > 2").count(name="n")
    assert q1 == q2
    assert hash(q1) == hash(q2)
    assert q1 != q3


class TestCanonicalEquivalence:
    """Rewrite/normalization parity with reference keyset/_ops/_rules.py
    240-465 (cases ported from reference test/unit/keysets/test_rewrite.py):
    structurally different assemblies of the same keys must decide
    is_equivalent True WITHOUT evaluating any DataFrame, and the decision
    must agree with real (materialized) equality."""

    def _check(self, a, b):
        assert a.is_equivalent(b) is True
        assert b.is_equivalent(a) is True
        assert a == b  # canonical decision agrees with the data

    def test_crossjoin_reorder(self):
        # from_dict insertion order is irrelevant (order_cross_joins).
        a = KeySet.from_dict({"A": [1], "C": [2], "B": [3]})
        b = KeySet.from_dict({"B": [3], "A": [1], "C": [2]})
        self._check(a, b)

    def test_crossjoin_merge(self):
        # (A*C)*(D*B) == ((A*B)*C)*D (merge + order_cross_joins).
        A = KeySet.from_dict({"A": [1]})
        B = KeySet.from_dict({"B": [2]})
        C = KeySet.from_dict({"C": [3]})
        D = KeySet.from_dict({"D": [4]})
        self._check((A * C) * (D * B), ((A * B) * C) * D)

    def test_total_aggregation_factor_dropped(self):
        # Crossing with the empty keyset adds nothing (merge_cross_joins
        # drops zero-column factors).
        A = KeySet.from_dict({"A": [1, 2]})
        self._check(A * KeySet.from_dict({}), A)

    def test_nested_and_noop_projection(self):
        ks = KeySet.from_tuples([(1, 2, 3)], columns=["A", "B", "C"])
        self._check(ks["A", "B"]["A"], ks["A"])
        self._check(ks["A", "B", "C"], ks)

    def test_crossjoin_projection_drops_factor(self):
        # Projecting one side of a cross product equals never crossing
        # (project_across_crossjoin).
        left = KeySet.from_tuples([(1, 2), (3, 4)], columns=["A", "B"])
        right = KeySet.from_tuples([(5,), (6,)], columns=["C"])
        self._check((left * right)["A", "B"], left)
        self._check((left * right)["C"], right)

    def test_join_reorder_and_linearize(self):
        BC = KeySet.from_dict({"B": [2], "C": [3]})
        AB = KeySet.from_dict({"A": [1], "B": [2]})
        CD = KeySet.from_dict({"C": [3], "D": [4]})
        DE = KeySet.from_dict({"D": [4], "E": [5]})
        # join is commutative (normalize_joins sorts the leaves).
        self._check(BC.join(AB), AB.join(BC))
        # nested joins linearize to the same canonical chain.
        self._check(BC.join(AB).join(CD.join(DE)), AB.join(BC).join(CD).join(DE))

    def test_union_reorder_and_linearize(self):
        A1 = KeySet.from_tuples([(1,), (2,)], columns=["A"])
        A2 = KeySet.from_tuples([(2,), (3,)], columns=["A"])
        A3 = KeySet.from_tuples([(4,), (5,)], columns=["A"])
        self._check(A1.union(A2), A2.union(A1))
        self._check(A1.union(A2).union(A3), A3.union(A1.union(A2)))

    def test_subtract_chain_reorder(self):
        base = KeySet.from_dict({"A": [1, 2, 3, 4], "B": [1, 2]})
        s1 = KeySet.from_dict({"A": [1]})
        s2 = KeySet.from_dict({"B": [2]})
        self._check((base - s1) - s2, (base - s2) - s1)

    def test_subtract_crossjoin_extraction(self):
        # Subtract(CrossJoin(A, B), A') == CrossJoin(Subtract(A, A'), B)
        # (extract_crossjoin_from_subtract).
        A = KeySet.from_dict({"A": [1, 2, 3]})
        B = KeySet.from_dict({"B": [7, 8]})
        sub = KeySet.from_dict({"A": [2]})
        self._check((A * B) - sub, (A - sub) * B)

    def test_different_keys_stay_false_or_none(self):
        a = KeySet.from_dict({"A": [1, 2]})
        b = KeySet.from_dict({"A": [1, 3]})
        # Driver-side rows: decidable, and definitely not equal.
        assert a.is_equivalent(b) is False
        assert a.is_equivalent(KeySet.from_dict({"Z": [1]})) is False

    def test_dataframe_sources_undecidable_is_none(self, spark):
        df1 = spark.createDataFrame([(1,), (2,)], "A long")
        df2 = spark.createDataFrame([(1,), (2,)], "A long")
        a = KeySet.from_dataframe(df1)
        b = KeySet.from_dataframe(df2)
        # Distinct DataFrame objects with same contents: not cheaply
        # decidable -> None (never evaluates the frames).
        assert a.is_equivalent(b) is None
        # Identical object: decidable True.
        assert a.is_equivalent(KeySet.from_dataframe(df1)) is True

    def test_mixed_df_crossjoin_merge(self, spark):
        dfB = spark.createDataFrame([(2,)], "B long")
        A = KeySet.from_dict({"A": [1]})
        Bk = KeySet.from_dataframe(dfB)
        C = KeySet.from_dict({"C": [3]})
        self._check((A * Bk) * C, (C * A) * Bk)
