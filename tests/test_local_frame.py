"""``utils.local_frame``: the one way driver rows become a DataFrame.

A frame built with ``createDataFrame(list_of_tuples, schema)`` is a
``LogicalRDD`` over a PythonRDD, so every scan of it starts Python
workers; ``local_frame`` builds an Arrow-backed ``LocalRelation`` instead.
These tests pin that no package code goes around the helper, that the
helper returns what ``createDataFrame`` returned for the same rows, and
that the DP release path carries no RDD-backed relation.
"""

import ast
import datetime
import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tumult_analytics_spark import (
    AddOneRow,
    ApproxDPBudget,
    KeySet,
    QueryBuilder,
    Session,
)
from tumult_analytics_spark.config import config
from tumult_analytics_spark.utils import local_frame

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tumult_analytics_spark",
)


def _create_dataframe_callers():
    """``(path, enclosing function)`` of every ``createDataFrame`` call in
    the package."""
    found = []

    class Visitor(ast.NodeVisitor):
        def __init__(self, path):
            self.path, self.scope = path, []

        def _enter(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_FunctionDef = visit_AsyncFunctionDef = visit_ClassDef = _enter

        def visit_Call(self, node):
            func = node.func
            name = getattr(func, "attr", getattr(func, "id", None))
            if name == "createDataFrame":
                found.append((self.path, ".".join(self.scope)))
            self.generic_visit(node)

    for root, _, files in os.walk(PACKAGE):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                Visitor(os.path.relpath(path, PACKAGE)).visit(tree)
    return found


def test_no_list_create_dataframe():
    callers = _create_dataframe_callers()
    assert callers, "the guard found no createDataFrame call at all"
    outside = [c for c in callers if c != ("utils.py", "local_frame")]
    assert not outside, (
        "build driver-side frames with utils.local_frame, not "
        f"createDataFrame: {outside}"
    )


_KEYS = "k long, s string, d date"

CASES = {
    "empty": ([], _KEYS),
    "null_keys": (
        [
            (1, "a", datetime.date(2020, 1, 1)),
            (None, "b", datetime.date(2020, 1, 2)),
            (3, None, datetime.date(2020, 1, 3)),
            (4, "d", None),
            (None, None, None),
        ],
        T.StructType(
            [
                T.StructField("k", T.LongType(), True),
                T.StructField("s", T.StringType(), True),
                T.StructField("d", T.DateType(), True),
            ]
        ),
    ),
    "zero_columns": ([()], T.StructType([])),
    "array_double": (
        [(1, "en", 0.5, [0.25, -1.0], 0.1), (2, "fr", 0.0, [], None)],
        "step int, class string, bias double, w array<double>, mse double",
    ),
    "ddl_string": (
        [(1, "x", 2.5), (2, "y", float("nan"))],
        "a int, b string, c double",
    ),
}


def _rows(df: DataFrame):
    return sorted(df.collect(), key=repr)


def _lineage(df: DataFrame) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    """Same rows and schema as ``createDataFrame(list, schema)``, and no
    PythonRDD underneath."""
    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert repr(_rows(got)) == repr(_rows(want))
    assert "PythonRDD" in _lineage(want) or not rows
    assert "PythonRDD" not in _lineage(got)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert ("Range" if case == "zero_columns" else "LocalRelation") in plan


def test_local_product_matches_local_rows(spark):
    """A driver-side product is built column-wise in Arrow; its frame holds
    the rows of ``local_rows`` (nested products, ``None`` keys, dates, an
    empty factor and a product of column-less keysets included)."""
    days = [datetime.date(2020, 1, 1), datetime.date(2021, 6, 30)]
    cases = [
        KeySet.from_dict({"a": [1, 2, 3]})
        * KeySet.from_tuples([("x", None), (None, 7)], ["s", "k"])
        * KeySet.from_dict({"d": days}),
        KeySet.from_dict({"a": [1, 2]}) * KeySet.from_tuples([], ["s"]),
        KeySet.from_dict({}) * KeySet.from_dict({}),
    ]
    for ks in cases:
        df = ks.dataframe()
        assert df.columns == list(ks.columns())
        assert sorted(map(tuple, df.collect()), key=repr) == sorted(
            ks.local_rows(), key=repr
        )
        assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()


def _plans_of(df: DataFrame):
    qe = df._jdf.queryExecution()
    return [qe.optimizedPlan().toString(), qe.executedPlan().toString()]


def test_dp_release_plans_have_no_rdd_scan(spark, monkeypatch):
    """Keysets from ``from_dict``, ``from_tuples``, a product and
    auto-partition selection, and the no-group ``get_bounds`` answer, all
    reach Spark as local relations: no plan that a release runs or
    returns scans an RDD."""
    table = spark.range(200).selectExpr(
        "id",
        "substr('abc', cast(id % 3 AS int) + 1, 1) AS g",
        "id % 4 AS k",
        "cast(id % 10 AS double) AS v",
    )
    seen = []
    frame_class = type(table)  # the concrete (classic) DataFrame class
    for method in ("toArrow", "toPandas", "collect"):
        original = getattr(frame_class, method)

        def record(self, *a, _original=original, **kw):
            seen.extend(_plans_of(self))
            return _original(self, *a, **kw)

        monkeypatch.setattr(frame_class, method, record)

    by_g = KeySet.from_dict({"g": ["a", "b", "z"]})
    budget = ApproxDPBudget(1.0, 1e-3)
    with config.features.auto_partition_selection.enabled():
        queries = [
            QueryBuilder("t").groupby(by_g).count(),
            QueryBuilder("t")
            .groupby(KeySet.from_tuples([("a", 0), ("b", 1), (None, 2)], ["g", "k"]))
            .sum("v", 0.0, 10.0),
            QueryBuilder("t")
            .groupby(by_g * KeySet.from_dict({"k": [0, 1, 2, 3]}))
            .average("v", 0.0, 10.0),
            QueryBuilder("t").groupby(["g"]).count(),
            QueryBuilder("t").get_bounds("v"),
        ]
        for q in queries:
            sess = Session.from_dataframe(budget, "t", table, AddOneRow())
            out = sess.evaluate(q, budget)
            out.collect()
            seen.extend(_plans_of(out))
    assert len(seen) > 2 * len(queries)  # the releases' own actions
    bad = [p for p in seen if "ExistingRDD" in p or "LogicalRDD" in p]
    assert not bad, bad[0]
