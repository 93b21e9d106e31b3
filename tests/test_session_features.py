"""Session-level features: auto partition selection, noise introspection,
describe, zCDP grouping discount, budget type rules."""

import pandas as pd
import pytest

from tumult_analytics_spark import (
    AddMaxRowsInMaxGroups,
    AddOneRow,
    ApproxDPBudget,
    KeySet,
    PureDPBudget,
    QueryBuilder,
    RhoZCDPBudget,
    Session,
)
from tumult_analytics_spark.config import config


def test_auto_partition_selection(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 30 + ["b"] * 20, "x": range(50)})
    )
    s = Session.from_dataframe(
        ApproxDPBudget(float("inf"), 1), "t", df, AddOneRow()
    )
    with config.features.auto_partition_selection.enabled():
        q = QueryBuilder("t").groupby(["g"]).count()
    out = s.evaluate(q, ApproxDPBudget(float("inf"), 1))
    got = {r["g"]: r["count"] for r in out.collect()}
    assert got == {"a": 30, "b": 20}


def test_auto_partition_requires_feature_flag(spark):
    with pytest.raises(RuntimeError, match="auto_partition_selection"):
        QueryBuilder("t").groupby(["g"])


def test_auto_partition_requires_approxdp(spark):
    df = spark.createDataFrame(pd.DataFrame({"g": ["a", "b"], "x": [1, 2]}))
    s = Session.from_dataframe(PureDPBudget(1), "t", df, AddOneRow())
    with config.features.auto_partition_selection.enabled():
        q = QueryBuilder("t").groupby(["g"]).count()
    with pytest.raises(ValueError, match="ApproxDP"):
        s.evaluate(q, PureDPBudget(1))


def test_noise_info(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    s = Session.from_dataframe(PureDPBudget(10), "t", df, AddOneRow())
    info = s._noise_info(QueryBuilder("t").count(), PureDPBudget(2))
    assert len(info) == 1
    assert info[0]["noise_mechanism"] == "GEOMETRIC"
    assert info[0]["noise_parameter"] == pytest.approx(0.5)  # d=1 / eps=2

    info2 = s._noise_info(
        QueryBuilder("t").average("x", 0, 10), PureDPBudget(2)
    )
    assert len(info2) == 2  # sum part + count part


def test_noise_info_zcdp(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    s = Session.from_dataframe(RhoZCDPBudget(8), "t", df, AddOneRow())
    info = s._noise_info(QueryBuilder("t").count(), RhoZCDPBudget(8))
    assert info[0]["noise_mechanism"] == "DISCRETE_GAUSSIAN"
    # sigma = sqrt(d^2/(2 rho)) = sqrt(1/16) = 0.25; reported as the
    # VARIANCE sigma^2 = 0.0625 (reference _noise_info convention).
    assert info[0]["noise_parameter"] == pytest.approx(0.0625)


def test_describe_runs(spark, capsys):
    df = spark.createDataFrame(pd.DataFrame({"a": ["x"], "b": [1.5]}))
    s = Session.from_dataframe(PureDPBudget(1), "t", df, AddOneRow())
    s.describe()
    out = capsys.readouterr().out
    assert "t" in out and "DECIMAL" in out and "VARCHAR" in out


def test_grouping_flatmap_requires_groupby_on_column(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    s = Session.from_dataframe(PureDPBudget(float("inf")), "t", df, AddOneRow())
    q = (
        QueryBuilder("t")
        .flat_map(
            lambda row: [{"g": "a"}, {"g": "b"}],
            new_column_types={"g": "VARCHAR"},
            augment=True,
            grouping=True,
            max_rows=2,
        )
        .count()
    )
    # count() groups by empty keyset, missing the grouping column -> error
    with pytest.raises(ValueError, match="grouping column"):
        s.evaluate(q, PureDPBudget(float("inf")))


def test_grouping_flatmap_l2_stability(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    s = Session.from_dataframe(RhoZCDPBudget(float("inf")), "t", df, AddOneRow())
    qb = QueryBuilder("t").flat_map(
        lambda row: [{"g": "a"}, {"g": "b"}, {"g": "c"}, {"g": "d"}],
        new_column_types={"g": "VARCHAR"},
        augment=True,
        grouping=True,
        max_rows=4,
    )
    q = qb.groupby(KeySet.from_dict({"g": ["a", "b", "c", "d"]})).count()
    info = s._noise_info(q, RhoZCDPBudget(2))
    # L2 stability = sqrt(4) = 2 -> sigma = sqrt(4/(2*2)) = 1
    assert info[0]["noise_parameter"] == pytest.approx(1.0)
    # PureDP-style L1 would have given stability 4 -> sigma 2.
    out = s.evaluate(q, RhoZCDPBudget(float("inf")))
    assert {r["g"]: r["count"] for r in out.collect()} == {
        "a": 3, "b": 3, "c": 3, "d": 3
    }


def test_add_max_rows_in_max_groups_zcdp(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", "b"], "x": [1, 2, 3]})
    )
    s = Session.from_dataframe(
        RhoZCDPBudget(2),
        "t",
        df,
        AddMaxRowsInMaxGroups("g", max_groups=4, max_rows_per_group=1),
    )
    q = QueryBuilder("t").groupby(KeySet.from_dict({"g": ["a", "b"]})).count()
    info = s._noise_info(q, RhoZCDPBudget(2))
    # L2 = sqrt(4)*1 = 2 -> sigma = sqrt(4/(2*2)) = 1
    assert info[0]["noise_parameter"] == pytest.approx(1.0)


def test_puredp_query_on_approxdp_session(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1]}))
    s = Session.from_dataframe(ApproxDPBudget(1, 1e-6), "t", df, AddOneRow())
    s.evaluate(QueryBuilder("t").count(), PureDPBudget(0.5))
    rem = s.remaining_privacy_budget
    assert float(rem.epsilon) == pytest.approx(0.5)
    assert float(rem.delta) == pytest.approx(1e-6)


def test_keyset_plan_detect(spark):
    # KeySet._detect: fixed domain crossed with DP-detected keys
    # (reference KeySetPlan). At infinite budget all present keys emerge;
    # fixed factor contributes structural zeros.
    from tumult_analytics_spark.keyset import KeySet, KeySetPlan

    df = spark.createDataFrame(
        pd.DataFrame(
            {"a": ["x", "x", "y"], "b": [1, 2, 1], "v": [10, 20, 30]}
        )
    )
    b = ApproxDPBudget(float("inf"), 1)
    s = Session.from_dataframe(b, "t", df, AddOneRow())
    plan = KeySet.from_dict({"a": ["x", "y", "z"]}) * KeySet._detect(["b"])
    assert isinstance(plan, KeySetPlan)
    assert plan.columns() == ("a", "b")
    out = s.evaluate(QueryBuilder("t").groupby(plan).count(), b)
    got = {(r["a"], r["b"]): r["count"] for r in out.collect()}
    # detected b keys = {1, 2}; fixed a domain = {x, y, z} -> 6 cells
    assert got == {
        ("x", 1): 1, ("x", 2): 1, ("y", 1): 1,
        ("y", 2): 0, ("z", 1): 0, ("z", 2): 0,
    }


def test_keyset_plan_rejects_overlap(spark):
    from tumult_analytics_spark.keyset import KeySet

    with pytest.raises(ValueError, match="overlap"):
        KeySet.from_dict({"b": [1]}) * KeySet._detect(["b"])


def test_approxdp_delta_zeroing(spark):
    # Laplace-family query under ApproxDP deducts (eps, 0) — delta is
    # only consumed by partition selection (reference
    # _base_measurement_visitor.py:591-668).
    df = spark.createDataFrame(pd.DataFrame({"g": ["a", "b"], "x": [1, 2]}))
    s = Session.from_dataframe(ApproxDPBudget(2, 1e-6), "t", df, AddOneRow())
    s.evaluate(QueryBuilder("t").count(), ApproxDPBudget(1, 1e-6))
    rem = s.remaining_privacy_budget
    assert float(rem.epsilon) == pytest.approx(1.0)
    assert float(rem.delta) == pytest.approx(1e-6)  # delta untouched
    # get_groups genuinely spends delta
    with config.features.auto_partition_selection.enabled():
        q = QueryBuilder("t").groupby(["g"]).count()
    s.evaluate(q, ApproxDPBudget(1, 1e-6))
    rem2 = s.remaining_privacy_budget
    assert float(rem2.delta) == pytest.approx(0.0)


def test_gaussian_requires_zcdp(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2]}))
    s = Session.from_dataframe(PureDPBudget(1), "t", df, AddOneRow())
    q = QueryBuilder("t").count(mechanism="gaussian")
    with pytest.raises(ValueError, match="RhoZCDP"):
        s.evaluate(q, PureDPBudget(1))


def test_laplace_allowed_under_zcdp(spark):
    # Explicit Laplace with a zCDP budget: eps = sqrt(2 rho)
    # (reference permits this; _rewrite_rules.py:104-105).
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    s = Session.from_dataframe(RhoZCDPBudget(8), "t", df, AddOneRow())
    info = s._noise_info(
        QueryBuilder("t").count(mechanism="laplace"), RhoZCDPBudget(2)
    )
    assert info[0]["noise_mechanism"] == "GEOMETRIC"
    assert info[0]["noise_parameter"] == pytest.approx(1 / 2.0)  # 1/sqrt(4)
    out = s.evaluate(QueryBuilder("t").count(mechanism="laplace"), RhoZCDPBudget(8))
    assert out.count() == 1


def test_ivf_cosine_topk_recall(spark):
    from tumult_analytics_spark.operators.similarity import (
        brute_force_cosine_topk,
        ivf_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf = ivf_cosine_topk(emb, "embedding", "vec_id", k=3, nlist=8, nprobe=4)
    rows = ivf.collect()
    assert {r["rank"] for r in rows} <= {1, 2, 3}
    bf = brute_force_cosine_topk(emb, "embedding", "vec_id", k=3)
    bf_map, ivf_map = {}, {}
    for r in bf.collect():
        bf_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in rows:
        ivf_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(bf_map[q] & ivf_map.get(q, set())) for q in bf_map)
    total = sum(len(v) for v in bf_map.values())
    assert hits / total >= 0.5, f"IVF recall too low: {hits/total:.3f}"


def test_add_max_rows_in_max_groups_requires_grouping(spark):
    # Rows-in-groups protection: ungrouped aggregations (or group-bys
    # missing the grouping column) are rejected (reference IfGroupedBy).
    df = spark.createDataFrame(pd.DataFrame({"g": ["a", "b"], "x": [1, 2]}))
    s = Session.from_dataframe(
        PureDPBudget(float("inf")),
        "t",
        df,
        AddMaxRowsInMaxGroups("g", max_groups=2, max_rows_per_group=1),
    )
    assert s.get_grouping_column("t") == "g"
    with pytest.raises(ValueError, match="grouping column"):
        s.evaluate(QueryBuilder("t").count(), PureDPBudget(float("inf")))
    out = s.evaluate(
        QueryBuilder("t").groupby(KeySet.from_dict({"g": ["a", "b"]})).count(),
        PureDPBudget(float("inf")),
    )
    assert sum(r["count"] for r in out.collect()) == 2


def test_error_paths(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1]}))
    s = Session.from_dataframe(PureDPBudget(1), "t", df, AddOneRow())
    # unknown source
    with pytest.raises(KeyError):
        s.evaluate(QueryBuilder("missing").count(), PureDPBudget(1))
    # duplicate registration
    with pytest.raises(ValueError, match="already exists"):
        s.add_public_dataframe("t", df)
    # unknown column in aggregation
    with pytest.raises(ValueError, match="not in table schema|not in schema"):
        s.evaluate(QueryBuilder("t").sum("nope", 0, 1), PureDPBudget(1))
    # aggregating a VARCHAR column
    df2 = spark.createDataFrame(pd.DataFrame({"a": ["x"]}))
    s2 = Session.from_dataframe(PureDPBudget(1), "t", df2, AddOneRow())
    with pytest.raises(ValueError, match="numeric"):
        s2.evaluate(QueryBuilder("t").sum("a", 0, 1), PureDPBudget(1))
    # invalid clamping bounds
    with pytest.raises(ValueError, match="bound"):
        QueryBuilder("t").sum("x", 5, 5)
    # stopped session refuses queries
    s.stop()
    with pytest.raises(RuntimeError, match="stopped"):
        s.evaluate(QueryBuilder("t").count(), PureDPBudget(0.1))


def test_evaluate_materializes_noise_once(spark):
    # ADVICE r1 (high): a lazy noisy plan redraws noise on every action;
    # evaluate() must pin one draw (reference materializes to temp tables).
    df = spark.createDataFrame(pd.DataFrame({"g": list(range(50)), "x": [1] * 50}))
    s = Session.from_dataframe(PureDPBudget(float("inf")), "t", df, AddOneRow())
    ks = KeySet.from_dict({"g": list(range(50))})
    out = s.evaluate(QueryBuilder("t").groupby(ks).count(), PureDPBudget(0.1))
    first = sorted((r["g"], r["count"]) for r in out.collect())
    second = sorted((r["g"], r["count"]) for r in out.collect())
    assert first == second


def test_suppress_threshold_consistent_with_release(spark):
    # With nondeterministic noise + materialization, the SuppressAggregates
    # filter and the released value must use the SAME noise draw: every
    # surviving row satisfies the threshold it was filtered on.
    df = spark.createDataFrame(
        pd.DataFrame({"g": [i % 20 for i in range(200)]})
    )
    s = Session.from_dataframe(PureDPBudget(float("inf")), "t", df, AddOneRow())
    ks = KeySet.from_dict({"g": list(range(20))})
    q = QueryBuilder("t").groupby(ks).count().suppress(8)
    for _ in range(3):
        rows = s.evaluate(q, PureDPBudget(0.5)).collect()
        assert all(r["count"] >= 8 for r in rows)


def test_noise_info_runs_no_spark_job(spark):
    # Introspection compiles lazily: no aggregation, release or probe job.
    df = spark.createDataFrame(pd.DataFrame({"g": [1, 2, 2], "x": [1, 5, 9]}))
    s = Session.from_dataframe(PureDPBudget(1), "t", df, AddOneRow())
    q = QueryBuilder("t").groupby(KeySet.from_dict({"g": [1, 2]})).average(
        "x", 0, 10
    )
    sc = spark.sparkContext
    sc.setJobGroup("noise-info-probe", "noise-info-probe")
    try:
        info = s._noise_info(q, PureDPBudget(1))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(info) == 2
    assert sc.statusTracker().getJobIdsForGroup("noise-info-probe") == []


def test_release_over_empty_keyset(spark):
    # An empty keyset releases zero rows with the infinite-budget schema.
    df = spark.createDataFrame(pd.DataFrame({"g": [1, 2, 2], "x": [1, 5, 9]}))
    s = Session.from_dataframe(PureDPBudget(float("inf")), "t", df, AddOneRow())
    ks = KeySet.from_dataframe(df.select("g").filter("g > 100"))
    q = QueryBuilder("t").groupby(ks).average("x", 0, 10)
    exact = s.evaluate(q, PureDPBudget(float("inf")))
    noisy = s.evaluate(q, PureDPBudget(1))
    assert noisy.collect() == [] and exact.collect() == []
    assert noisy.schema == exact.schema


def test_get_groups_rejects_id_column(spark):
    from tumult_analytics_spark import AddRowsWithID, ApproxDPBudget, MaxRowsPerID

    df = spark.createDataFrame(
        pd.DataFrame({"uid": [1, 2, 3], "g": ["a", "b", "a"]})
    )
    s = (
        Session.Builder()
        .with_privacy_budget(ApproxDPBudget(1, 1e-6))
        .with_id_space("s")
        .with_private_dataframe("t", df, AddRowsWithID("uid", "s"))
        .build()
    )
    with pytest.raises((RuntimeError, ValueError), match="privacy ID column"):
        s.evaluate(
            QueryBuilder("t").enforce(MaxRowsPerID(1)).get_groups(["uid"]),
            ApproxDPBudget(1, 1e-6),
        )


def test_brute_force_guard_refuses_large_corpus(spark):
    from tumult_analytics_spark.operators.similarity import (
        brute_force_cosine_topk,
    )

    emb = spark.range(200).selectExpr(
        "id as vec_id", "array(cast(id as double), 1.0d) as embedding"
    )
    with pytest.raises(ValueError, match="lsh_cosine_topk"):
        brute_force_cosine_topk(
            emb, "embedding", "vec_id", k=2, max_collect_rows=100
        )
    # under the cap it runs
    assert (
        brute_force_cosine_topk(
            emb.limit(50), "embedding", "vec_id", k=2, max_collect_rows=100
        ).count()
        > 0
    )


def test_noise_info_quantile_exponential(spark):
    # Reference reports the quantile as the EXPONENTIAL mechanism with
    # the consumed epsilon as its parameter (_noise_info.py:195-200).
    df = spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0, 3.0]}))
    s = Session.from_dataframe(PureDPBudget(10), "t", df, AddOneRow())
    info = s._noise_info(
        QueryBuilder("t").median("x", 0, 10, name="m"), PureDPBudget(2)
    )
    assert info == [
        {"noise_mechanism": "EXPONENTIAL", "noise_parameter": pytest.approx(2.0)}
    ]


def test_quantize_embeddings_roundtrip(spark):
    import numpy as np

    from tumult_analytics_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = dequantize_embeddings(quantize_embeddings(emb, "embedding", "vec_id"))
    joined = q.join(emb, "vec_id").select("vec_id", "embedding", "embedding_deq", "scale")
    for r in joined.limit(50).collect():
        orig = np.asarray(r["embedding"], dtype=np.float64)
        deq = np.asarray(r["embedding_deq"], dtype=np.float64)
        # symmetric int8: per-element error <= scale/2 (+ eps)
        assert np.abs(orig - deq).max() <= r["scale"] / 2 + 1e-9
    # zero vector -> zero codes, scale 0
    import pandas as pd

    z = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1], "embedding": [[0.0, 0.0, 0.0]]})
    )
    row = quantize_embeddings(z, "embedding", "vec_id").collect()[0]
    assert row["scale"] == 0.0 and list(row["codes"]) == [0, 0, 0]
