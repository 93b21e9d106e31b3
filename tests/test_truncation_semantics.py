"""Truncation + constraint-propagation semantics for ID tables, mirroring
the reference's ``ids/test_l0_linf_truncation.py``, ``test_l1_truncation.py``
and ``ids/test_constraint_propagation.py``:

- truncation is DETERMINISTIC and independent of row order / partitioning
  (hash-ranked, reference truncation_strategy.py:42-45);
- constraints survive filter/drop, are renamed by rename, dropped by a
  select that removes their column, kept by augmenting map, reduced to
  MaxGroupsPerID by flat_map, dropped entirely by flat_map_by_id;
- join_public multiplies MaxRowsPerID by the public side's max key
  multiplicity (reference _constraint_propagation.py:192-217).
"""

import pandas as pd
import pytest

from tumult_analytics_spark import (
    AddOneRow,
    AddRowsWithID,
    KeySet,
    MaxGroupsPerID,
    MaxRowsPerGroupPerID,
    MaxRowsPerID,
    PureDPBudget,
    QueryBuilder,
    Session,
)
from tumult_analytics_spark.constraints import (
    DropExcess,
    DropNonUnique,
    apply_truncation,
    truncate_max_rows_per_group_per_id,
    truncate_max_rows_per_id,
)

INF = PureDPBudget(float("inf"))


def _ids_df(spark, order):
    rows = [(1, "a", 10), (1, "a", 11), (1, "b", 12), (2, "a", 13), (2, "c", 14)]
    rows = [rows[i] for i in order]
    return spark.createDataFrame(rows, "id long, g string, v long")


def test_truncation_deterministic_under_row_order(spark):
    orders = [[0, 1, 2, 3, 4], [4, 3, 2, 1, 0], [2, 0, 4, 1, 3]]
    results = []
    ks = KeySet.from_dict({"g": ["a", "b", "c"]})
    for o in orders:
        s = Session.from_dataframe(INF, "t", _ids_df(spark, o), AddRowsWithID("id"))
        q = (
            QueryBuilder("t")
            .enforce(MaxRowsPerID(2))
            .groupby(ks)
            .sum("v", 0, 20, name="s")
        )
        out = {r["g"]: r["s"] for r in s.evaluate(q, INF).collect()}
        results.append(out)
    assert results[0] == results[1] == results[2]


def _truncated_by_id(df):
    s = Session.from_dataframe(INF, "t", df, AddRowsWithID("id"))
    return s, QueryBuilder("t").enforce(MaxRowsPerID(2))


def _truncated_by_group(df):
    s = Session.from_dataframe(INF, "t", df, AddRowsWithID("id"))
    q = (
        QueryBuilder("t")
        .enforce(MaxRowsPerGroupPerID("g", 1))
        .enforce(MaxGroupsPerID("g", 2))
    )
    return s, q


def _drop_excess_join(df):
    # id-free private join on g: DropExcess(1) keeps one hash-chosen row
    # per g on the left.
    spark = df.sparkSession
    right = spark.createDataFrame([("a",), ("b",), ("c",)], "g string")
    s = (
        Session.Builder()
        .with_privacy_budget(INF)
        .with_private_dataframe("t", df, AddOneRow())
        .with_private_dataframe("r", right, AddOneRow())
        .build()
    )
    q = QueryBuilder("t").join_private(
        "r",
        truncation_strategy_left=DropExcess(1),
        truncation_strategy_right=DropExcess(1),
    )
    return s, q


@pytest.mark.parametrize(
    "truncated",
    [_truncated_by_id, _truncated_by_group, _drop_excess_join],
    ids=["max_rows_per_id", "max_rows_per_group_per_id", "drop_excess"],
)
def test_truncation_deterministic_under_partitioning(spark, truncated):
    ks = KeySet.from_dict({"g": ["a", "b", "c"]})
    outs = []
    for nparts in (1, 7):
        df = _ids_df(spark, [0, 1, 2, 3, 4]).repartition(nparts)
        s, q = truncated(df)
        out = s.evaluate(q.groupby(ks).sum("v", 0, 20, name="s"), INF)
        outs.append({r["g"]: r["s"] for r in out.collect()})
    assert outs[0] == outs[1]


@pytest.fixture
def id_sess(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 1, 1, 2], "g": ["a", "a", "b", "a"], "v": [1, 2, 3, 4]})
    )
    return Session.from_dataframe(INF, "t", df, AddRowsWithID("id"))


def test_constraint_survives_filter(id_sess):
    # id 1 truncated 3 -> 2 rows, id 2 keeps 1; filter keeps all -> 3
    q = QueryBuilder("t").enforce(MaxRowsPerID(2)).filter("v > 0").count()
    assert id_sess.evaluate(q, INF).collect()[0]["count"] == 3


def test_constraint_renamed_through_rename(id_sess):
    ks = KeySet.from_dict({"grp": ["a", "b"]})
    q = (
        QueryBuilder("t")
        .enforce(MaxGroupsPerID("g", 1))
        .enforce(MaxRowsPerGroupPerID("g", 1))
        .rename({"g": "grp"})
        .groupby(ks)
        .count()
    )
    # renamed constraints still apply to the renamed column
    total = sum(r["count"] for r in id_sess.evaluate(q, INF).collect())
    assert total == 2  # one (id, group) row per id


def test_constraint_dropped_by_select(id_sess):
    # selecting away 'g' drops the group constraints -> count needs
    # MaxRowsPerID, which is absent -> error
    q = (
        QueryBuilder("t")
        .enforce(MaxGroupsPerID("g", 1))
        .enforce(MaxRowsPerGroupPerID("g", 1))
        .select(["id", "v"])
        .count()
    )
    with pytest.raises(ValueError, match="constraint"):
        id_sess.evaluate(q, INF)


def test_constraint_kept_by_augmenting_map(id_sess):
    q = (
        QueryBuilder("t")
        .enforce(MaxRowsPerID(1))
        .map(lambda r: {"w": r["v"] * 2}, {"w": "INTEGER"}, augment=True)
        .count()
    )
    assert id_sess.evaluate(q, INF).collect()[0]["count"] == 2


def test_flat_map_keeps_only_max_groups(id_sess):
    # After flat_map, MaxRowsPerID is gone: count must fail.
    q = (
        QueryBuilder("t")
        .enforce(MaxRowsPerID(1))
        .flat_map(
            lambda r: [{"u": 1}],
            new_column_types={"u": "INTEGER"},
            augment=True,
            max_rows=1,
        )
        .count()
    )
    with pytest.raises(ValueError, match="constraint"):
        id_sess.evaluate(q, INF)


def test_flat_map_by_id_drops_all_constraints(id_sess):
    q = (
        QueryBuilder("t")
        .enforce(MaxRowsPerID(1))
        .flat_map_by_id(
            lambda rows: [{"n": len(rows)}], new_column_types={"n": "INTEGER"}
        )
        .count()
    )
    with pytest.raises(ValueError, match="constraint"):
        id_sess.evaluate(q, INF)


def test_join_public_multiplies_max_rows_per_id(spark):
    df = spark.createDataFrame(pd.DataFrame({"id": [1, 2], "k": ["x", "y"]}))
    pub = spark.createDataFrame(
        pd.DataFrame({"k": ["x", "x", "x", "y"], "p": [1, 2, 3, 4]})
    )
    s = Session.from_dataframe(PureDPBudget(10), "t", df, AddRowsWithID("id"))
    s.add_public_dataframe("pub", pub)
    q = QueryBuilder("t").enforce(MaxRowsPerID(1)).join_public("pub").count()
    # public key multiplicity max = 3 -> constraint becomes MaxRowsPerID(3)
    # -> noise parameter = 3/eps
    info = s._noise_info(q, PureDPBudget(1))
    assert info[0]["noise_parameter"] == pytest.approx(3.0)
    out = s.evaluate(q, PureDPBudget(10))
    assert out.count() == 1


def test_partition_children_inherit_constraints(spark):
    # partition_and_create on an ID table: children inherit the parent
    # view's enforced truncations, so child queries need no re-enforce.
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 1, 2, 2, 3],
                "g": ["a", "b", "a", "a", "b"],
                "v": [1, 2, 3, 4, 5],
            }
        )
    )
    s = Session.from_dataframe(INF, "t", df, AddRowsWithID("id"))
    s.create_view(
        QueryBuilder("t").enforce(MaxRowsPerID(1)), "t_trunc", cache=False
    )
    children = s.partition_and_create("t_trunc", INF, "g", {"a": "a", "b": "b"})
    out = children["a"].evaluate(
        QueryBuilder("a").count(name="n"), INF
    )
    # each id keeps 1 row (hash-chosen), all landing in some partition;
    # totals across both children must be 3
    na = out.collect()[0]["n"]
    nb = children["b"].evaluate(
        QueryBuilder("b").count(name="n"), INF
    ).collect()[0]["n"]
    assert na + nb == 3


def test_truncation_with_hot_key(spark):
    # One hot ID (5000 rows) and 199 cold ones: every truncation keeps
    # exactly min(n, k) rows per key, and DropNonUnique drops only the
    # hot key.
    from collections import Counter

    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "uid": [0] * 5000 + list(range(1, 200)),
            "v": list(range(5000)) + [7] * 199,
        }
    )
    df = spark.createDataFrame(pdf).withColumn("g", F.col("v") % 3)
    n_id = Counter(pdf["uid"])
    n_group = Counter(zip(pdf["uid"], pdf["v"] % 3))

    def per_key(out, cols):
        return Counter(tuple(r[c] for c in cols) for r in out.collect())

    kept = per_key(truncate_max_rows_per_id(df, "uid", 3), ["uid"])
    assert kept == {(u,): min(n, 3) for u, n in n_id.items()}

    kept = per_key(apply_truncation(df, ["uid"], DropExcess(2)), ["uid"])
    assert kept == {(u,): min(n, 2) for u, n in n_id.items()}

    kept = per_key(apply_truncation(df, ["uid"], DropNonUnique()), ["uid"])
    assert kept == {(u,): 1 for u in range(1, 200)}

    kept = per_key(
        truncate_max_rows_per_group_per_id(df, "uid", "g", 2), ["uid", "g"]
    )
    assert kept == {k: min(n, 2) for k, n in n_group.items()}
