"""Row transforms, joins, special values, and privacy-ID tables."""

import math

import pandas as pd
import pytest

from tumult_analytics_spark import (
    AddOneRow,
    AddRowsWithID,
    ColumnType,
    KeySet,
    MaxGroupsPerID,
    MaxRowsPerGroupPerID,
    MaxRowsPerID,
    PureDPBudget,
    QueryBuilder,
    Session,
    TruncationStrategy,
)

INF = PureDPBudget(float("inf"))


@pytest.fixture()
def sess(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "A": ["0", "1", "1", "1"],
                "B": [0, 0, 1, 2],
                "X": [0.0, 1.0, 2.0, 3.0],
            }
        )
    )
    pub = spark.createDataFrame(
        pd.DataFrame({"A": ["0", "0", "1"], "Y": [10, 20, 30]})
    )
    s = Session.from_dataframe(INF, "t", df, AddOneRow())
    s.add_public_dataframe("pub", pub)
    return s


def test_select_rename(sess):
    q = (
        QueryBuilder("t")
        .select(["A", "B"])
        .rename({"B": "BB"})
        .groupby(KeySet.from_dict({"A": ["0", "1"]}))
        .sum("BB", 0, 2, name="s")
    )
    out = sess.evaluate(q, INF)
    assert {r["A"]: r["s"] for r in out.collect()} == {"0": 0, "1": 3}


def test_map_augment(sess):
    q = (
        QueryBuilder("t")
        .map(
            lambda row: {"doubled": row["B"] * 2},
            new_column_types={"doubled": "INTEGER"},
            augment=True,
        )
        .sum("doubled", 0, 4, name="s")
    )
    out = sess.evaluate(q, INF)
    assert out.collect()[0]["s"] == 6


def test_flat_map(sess):
    q = (
        QueryBuilder("t")
        .flat_map(
            lambda row: [{"i": 1}, {"i": 2}],
            new_column_types={"i": "INTEGER"},
            augment=True,
            max_rows=2,
        )
        .count()
    )
    out = sess.evaluate(q, INF)
    assert out.collect()[0]["count"] == 8


def test_flat_map_max_rows_truncates(sess):
    q = (
        QueryBuilder("t")
        .flat_map(
            lambda row: [{"i": k} for k in range(5)],
            new_column_types={"i": "INTEGER"},
            augment=False,
            max_rows=3,
        )
        .count()
    )
    out = sess.evaluate(q, INF)
    assert out.collect()[0]["count"] == 12


def test_join_public_disambiguation(sess, spark):
    # shared non-key column should become X_left / X_right
    pub2 = spark.createDataFrame(pd.DataFrame({"A": ["1"], "X": [99.0]}))
    q = QueryBuilder("t").join_public(pub2, join_columns=["A"]).count()
    out = sess.evaluate(q, INF)
    assert out.collect()[0]["count"] == 3
    schema = sess.get_schema("t")
    qb = QueryBuilder("t").join_public(pub2, join_columns=["A"])
    cols = qb._expr.schema(sess._catalog()).columns
    assert "X_left" in cols and "X_right" in cols


def test_join_public_matches_null_keys(spark):
    df = spark.createDataFrame([("a", 1), (None, 2), (None, 3)], "k string, v long")
    pub = spark.createDataFrame([("a", 10), (None, 20)], "k string, w long")
    s = Session.from_dataframe(INF, "t", df, AddOneRow())
    q = (
        QueryBuilder("t")
        .join_public(pub)
        .groupby(KeySet.from_tuples([("a",), (None,)], columns=["k"]))
        .sum("w", 0, 100, name="s")
    )
    # both null-key rows match the public null key
    assert {r["k"]: r["s"] for r in s.evaluate(q, INF).collect()} == {
        "a": 10,
        None: 40,
    }


def test_join_public_left(sess):
    q = (
        QueryBuilder("t")
        .join_public("pub", join_columns=["A"], how="left")
        .groupby(KeySet.from_dict({"A": ["0", "1"]}))
        .count()
    )
    out = sess.evaluate(q, INF)
    # A=0: 1 row x 2 matches; A=1: 3 rows x 1 match
    assert {r["A"]: r["count"] for r in out.collect()} == {"0": 2, "1": 3}


def test_join_private(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b", "c"], "v": [1, 2, 3, 4]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b", "b"], "w": [10, 20, 30]})
    )
    s = (
        Session.Builder()
        .with_privacy_budget(INF)
        .with_private_dataframe("l", left, AddOneRow())
        .with_private_dataframe("r", right, AddOneRow())
        .build()
    )
    q = (
        QueryBuilder("l")
        .join_private(
            "r",
            truncation_strategy_left=TruncationStrategy.DropExcess(2),
            truncation_strategy_right=TruncationStrategy.DropExcess(2),
        )
        .count()
    )
    out = s.evaluate(q, INF)
    # a: 2x1, b: 1x2, c: 0 -> 4 rows
    assert out.collect()[0]["count"] == 4


def test_join_private_drop_non_unique(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b", "c"], "v": [1, 2, 3, 4]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b", "b"], "w": [10, 20, 30]})
    )
    s = (
        Session.Builder()
        .with_privacy_budget(INF)
        .with_private_dataframe("l", left, AddOneRow())
        .with_private_dataframe("r", right, AddOneRow())
        .build()
    )
    q = (
        QueryBuilder("l")
        .join_private(
            "r",
            truncation_strategy_left=TruncationStrategy.DropNonUnique(),
            truncation_strategy_right=TruncationStrategy.DropNonUnique(),
        )
        .count()
    )
    out = s.evaluate(q, INF)
    # left unique keys: b, c; right unique: a -> join on k: nothing matches b? right has b twice (dropped) -> 0
    assert out.collect()[0]["count"] == 0


def test_special_values(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "g": ["a", "a", "b", "b", "b"],
                "x": [1.0, float("nan"), float("inf"), -float("inf"), 2.0],
            }
        )
    )
    s = Session.from_dataframe(INF, "t", df, AddOneRow())
    # sum: NaN dropped, inf clamped to bounds
    q = QueryBuilder("t").groupby(KeySet.from_dict({"g": ["a", "b"]})).sum(
        "x", 0, 10, name="s"
    )
    out = s.evaluate(q, INF)
    got = {r["g"]: r["s"] for r in out.collect()}
    assert got["a"] == pytest.approx(1.0)  # NaN row dropped
    assert got["b"] == pytest.approx(12.0)  # inf->10, -inf->0, 2


def test_replace_null_and_nan(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"x": [1.0, None, float("nan")], "s": ["a", None, "c"]})
    )
    s = Session.from_dataframe(INF, "t", df, AddOneRow())
    q = (
        QueryBuilder("t")
        .replace_null_and_nan({"x": 5.0, "s": "z"})
        .groupby(KeySet.from_dict({"s": ["a", "z", "c"]}))
        .sum("x", 0, 10, name="sx")
    )
    out = s.evaluate(q, INF)
    got = {r["s"]: r["sx"] for r in out.collect()}
    assert got == {"a": 1.0, "z": 5.0, "c": 5.0}


def test_drop_null_and_nan(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1.0, None, float("nan"), 4.0]}))
    s = Session.from_dataframe(INF, "t", df, AddOneRow())
    out = s.evaluate(QueryBuilder("t").drop_null_and_nan(["x"]).count(), INF)
    assert out.collect()[0]["count"] == 2


def test_ids_require_constraint(spark):
    df = spark.createDataFrame(pd.DataFrame({"id": [1, 1, 2], "v": [1, 2, 3]}))
    s = Session.from_dataframe(INF, "t", df, AddRowsWithID("id"))
    with pytest.raises(ValueError, match="constraint"):
        s.evaluate(QueryBuilder("t").count(), INF)


def test_ids_max_rows_per_id(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 1, 1, 2, 2, 3], "v": [1, 2, 3, 4, 5, 6]})
    )
    s = Session.from_dataframe(INF, "t", df, AddRowsWithID("id"))
    out = s.evaluate(QueryBuilder("t").enforce(MaxRowsPerID(2)).count(), INF)
    # id1 truncated to 2 rows: total = 2+2+1
    assert out.collect()[0]["count"] == 5


def test_ids_groups_per_id(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 1, 1, 1, 2, 2],
                "g": ["a", "a", "b", "c", "a", "b"],
            }
        )
    )
    s = Session.from_dataframe(INF, "t", df, AddRowsWithID("id"))
    q = (
        QueryBuilder("t")
        .enforce(MaxGroupsPerID("g", 2))
        .enforce(MaxRowsPerGroupPerID("g", 1))
        .groupby(KeySet.from_dict({"g": ["a", "b", "c"]}))
        .count()
    )
    out = s.evaluate(q, INF)
    total = sum(r["count"] for r in out.collect())
    # id1 keeps 2 groups x 1 row, id2 keeps 2 groups x 1 row
    assert total == 4


def test_ids_private_join_same_space(spark):
    a = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3], "v": [1, 2, 3]}))
    b = spark.createDataFrame(pd.DataFrame({"id": [1, 1, 2], "w": [5, 6, 7]}))
    s = (
        Session.Builder()
        .with_privacy_budget(INF)
        .with_private_dataframe("a", a, AddRowsWithID("id", "space"))
        .with_private_dataframe("b", b, AddRowsWithID("id", "space"))
        .build()
    )
    q = (
        QueryBuilder("a")
        .join_private("b")
        .enforce(MaxRowsPerID(5))
        .count()
    )
    out = s.evaluate(q, INF)
    assert out.collect()[0]["count"] == 3


def test_flat_map_by_id(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 1, 2], "v": [1, 2, 10]})
    )
    s = Session.from_dataframe(INF, "t", df, AddRowsWithID("id"))

    def summarize(rows):
        total = sum(r["v"] for r in rows)
        return [{"total": total}]

    q = (
        QueryBuilder("t")
        .flat_map_by_id(summarize, new_column_types={"total": "INTEGER"})
        .enforce(MaxRowsPerID(1))
        .sum("total", 0, 20, name="s")
    )
    out = s.evaluate(q, INF)
    assert out.collect()[0]["s"] == 13


def test_flat_map_by_id_batch_spanning_groups(spark):
    """The mapInPandas ID-run kernel must stitch a group that spans two
    Arrow batches (forced via a 3-row batch cap) and keep SQL null-group
    semantics (all null IDs are ONE group)."""
    from tumult_analytics_spark.plans.compiler import compile_flat_map_by_id
    from tumult_analytics_spark.schema import Schema

    data = (
        [("a", i) for i in range(7)]
        + [("b", i) for i in range(5)]
        + [(None, i) for i in range(4)]
        + [("c", 99)]
    )
    df = spark.createDataFrame(pd.DataFrame(data, columns=["id", "v"]))

    def f(rows):
        return [{"n": len(rows)}, {"n": sum(r["v"] for r in rows)}]

    out_schema = Schema({"id": "VARCHAR", "n": "INTEGER"}, id_column="id")
    old = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        got = compile_flat_map_by_id(df, f, "id", out_schema)
        rows = [(r["id"], r["n"]) for r in got.collect()]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    key = lambda t: (t[0] is not None, str(t[0]), t[1])  # noqa: E731
    expected = [
        ("a", 7), ("a", 21), ("b", 5), ("b", 10),
        (None, 4), (None, 6), ("c", 1), ("c", 99),
    ]
    assert sorted(rows, key=key) == sorted(expected, key=key)


def test_flat_map_by_id_single_hot_id_many_batches(spark):
    """One pathological hot ID spanning MANY Arrow batches (r10 verdict
    #5): the kernel must accumulate the open run as chunks (concat once
    at the run boundary, not per batch) and still produce the exact
    group. Sandwiched small groups exercise both flush paths (run closed
    by a new first-row ID, and run closed by batch exhaustion)."""
    from tumult_analytics_spark.plans.compiler import compile_flat_map_by_id
    from tumult_analytics_spark.schema import Schema

    data = (
        [("a", 1)]
        + [("hot", i) for i in range(100)]
        + [("z", 5), ("z", 6)]
    )
    df = spark.createDataFrame(
        pd.DataFrame(data, columns=["id", "v"])
    ).repartition(1)

    def f(rows):
        return [{"n": len(rows)}, {"n": sum(r["v"] for r in rows)}]

    out_schema = Schema({"id": "VARCHAR", "n": "INTEGER"}, id_column="id")
    old = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        got = compile_flat_map_by_id(df, f, "id", out_schema)
        rows = [(r["id"], r["n"]) for r in got.collect()]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    expected = [
        ("a", 1), ("a", 1),
        ("hot", 100), ("hot", sum(range(100))),
        ("z", 2), ("z", 11),
    ]
    assert sorted(rows) == sorted(expected)


def test_views(sess):
    sess.create_view(QueryBuilder("t").filter("B > 0"), "v", cache=True)
    out = sess.evaluate(QueryBuilder("v").count(), INF)
    assert out.collect()[0]["count"] == 2
    sess.delete_view("v")
    with pytest.raises(Exception):
        sess.evaluate(QueryBuilder("v").count(), INF)


def test_partition_and_create(sess):
    parts = sess.partition_and_create(
        "t", INF, "A", {"zero": "0", "one": "1"}
    )
    out0 = parts["zero"].evaluate(QueryBuilder("zero").count(), INF)
    out1 = parts["one"].evaluate(QueryBuilder("one").count(), INF)
    assert out0.collect()[0]["count"] == 1
    assert out1.collect()[0]["count"] == 3


def test_vectorized_map_matches_row_map(spark):
    import pandas as pd
    from tumult_analytics_spark import AddOneRow, PureDPBudget, QueryBuilder, Session

    INF = PureDPBudget(float("inf"))
    df = spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.5, 7.0, -3.0]}))
    s = Session.from_dataframe(INF, "t", df, AddOneRow())
    row_q = (
        QueryBuilder("t")
        .map(lambda r: {"y": int(r["x"] * 2)}, {"y": "INTEGER"}, augment=True)
        .sum("y", -10, 20, name="s")
    )
    vec_q = (
        QueryBuilder("t")
        .map(
            lambda pdf: pd.DataFrame({"y": (pdf["x"] * 2).astype("int64")}),
            {"y": "INTEGER"},
            augment=True,
            vectorized=True,
        )
        .sum("y", -10, 20, name="s")
    )
    assert (
        s.evaluate(row_q, INF).collect()[0]["s"]
        == s.evaluate(vec_q, INF).collect()[0]["s"]
    )


def test_vectorized_flat_map_enforces_max_rows(spark):
    # The engine must trim per-input-row output segments to max_rows even
    # if the batch function over-produces (DP stability cannot trust f).
    import numpy as np
    import pandas as pd
    from tumult_analytics_spark import AddOneRow, PureDPBudget, QueryBuilder, Session

    INF = PureDPBudget(float("inf"))
    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    s = Session.from_dataframe(INF, "t", df, AddOneRow())

    def overproduce(pdf):
        n = len(pdf)
        counts = np.full(n, 5)  # claims 5 outputs per row; max_rows=2
        out = pd.DataFrame({"u": np.tile(np.arange(5), n)})
        return counts, out

    q = (
        QueryBuilder("t")
        .flat_map(
            overproduce, {"u": "INTEGER"}, augment=True,
            max_rows=2, vectorized=True,
        )
        .count(name="n")
    )
    assert s.evaluate(q, INF).collect()[0]["n"] == 6  # 3 rows x capped 2


class TestUnigramLogprobScore:
    def test_scores_match_hand_computation(self, spark):
        import math

        from tumult_analytics_spark.operators.text import (
            unigram_logprob_score,
        )

        # Corpus: 6 tokens total; counts: a=3, b=2, c=1.
        df = spark.createDataFrame(
            [(1, "a a b"), (2, "a b c"), (3, "")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["lm_nll"]
               for r in unigram_logprob_score(df, "text", "doc_id").collect()}
        n = 6.0
        exp1 = round((2 * (math.log(n) - math.log(3))
                      + (math.log(n) - math.log(2))) / 3, 6)
        exp2 = round((math.log(n / 3) + math.log(n / 2) + math.log(n / 1)) / 3, 6)
        assert out[1] == exp1
        assert out[2] == exp2
        assert out[3] is None  # no tokens -> no score
        # The common-token doc scores better (lower NLL) than the one
        # with a rare token.
        assert out[1] < out[2]


class TestBpeLearnMerges:
    def test_classic_example(self, spark):
        from tumult_analytics_spark.operators.text import bpe_learn_merges

        df = spark.createDataFrame(
            [(1, "low low low lower lower newest newest newest newest "
                 "widest a")],
            "doc_id long, text string",
        )
        out = [tuple(r) for r in bpe_learn_merges(df, "text", 5).collect()]
        # we=6 (lower x2 + newest x4); lo vs ow tie -> 'l' < 'o';
        # after 'we', es is gone so st=5; then e+we, ewe+st.
        assert out == [
            (1, "w", "e", "we", 6),
            (2, "l", "o", "lo", 5),
            (3, "s", "t", "st", 5),
            (4, "e", "we", "ewe", 4),
            (5, "ewe", "st", "ewest", 4),
        ]

    def test_greedy_nonoverlapping_application(self, spark):
        from tumult_analytics_spark.operators.text import bpe_learn_merges

        # 'aaa': pair (a,a) counts 2 adjacencies but merges greedily
        # left-to-right into (aa, a); step 2 then pairs aa with a.
        df = spark.createDataFrame(
            [(1, "aaa aaa")], "doc_id long, text string"
        )
        out = [tuple(r) for r in bpe_learn_merges(df, "text", 2).collect()]
        assert out[0] == (1, "a", "a", "aa", 4)
        assert out[1] == (2, "aa", "a", "aaa", 2)

    def test_validation(self, spark):
        from tumult_analytics_spark.operators.text import bpe_learn_merges

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            bpe_learn_merges(df, "text", 0)


class TestBpeApply:
    def test_tokenize_with_learned_merges(self, spark):
        from tumult_analytics_spark.operators.text import (
            bpe_apply,
            bpe_learn_merges,
        )

        corpus = spark.createDataFrame(
            [(1, "low low low lower lower newest newest newest newest "
                 "widest a")],
            "doc_id long, text string",
        )
        merges = bpe_learn_merges(corpus, "text", 5)
        out = bpe_apply(
            spark.createDataFrame(
                [(1, "lowest newest"), (2, None)],
                "doc_id long, text string",
            ),
            "text", merges,
        )
        rows = {r["doc_id"]: r["bpe_tokens"] for r in out.collect()}
        # merges: we, lo, st, ewe, ewest.
        # lowest: l,o,w,e,s,t -> we -> lo,we? no: 'we' merges w+e ->
        #   lo? step2 merges l,o -> [lo, we?]... trace: [l,o,w,e,s,t]
        #   we: [l,o,we,s,t]; lo: [lo,we,s,t]; st: [lo,we,st];
        #   ewe: no 'e','we' pair (we preceded by lo); ewest: no.
        assert rows[1] == ["lo", "we", "st", "n", "ewest"]
        assert rows[2] is None

    def test_merges_as_tuples(self, spark):
        from tumult_analytics_spark.operators.text import bpe_apply

        df = spark.createDataFrame([(1, "abab")], "doc_id long, text string")
        out = bpe_apply(df, "text", [("a", "b"), ("ab", "ab")]).first()
        assert out["bpe_tokens"] == ["abab"]


class TestNormalizeText:
    def test_full_normalization(self, spark):
        from tumult_analytics_spark.operators.text import normalize_text

        df = spark.createDataFrame(
            [
                (1, "“Hello” — it’s  a\tTEST…\x07 done  "),
                (2, None),
                (3, ""),
                (4, "already clean"),
            ],
            "id long, text string",
        )
        out = {r["id"]: r["text_norm"] for r in normalize_text(df, "text").collect()}
        assert out[1] == '"hello" - it\'s a test... done'
        assert out[2] is None and out[3] == "" and out[4] == "already clean"

    def test_toggles(self, spark):
        from tumult_analytics_spark.operators.text import normalize_text

        df = spark.createDataFrame(
            [(1, "A  B’C")], "id long, text string"
        )
        keep_case = normalize_text(df, "text", lowercase=False).collect()[0]
        assert keep_case["text_norm"] == 'A B\'C'
        keep_ws = normalize_text(
            df, "text", collapse_whitespace=False
        ).collect()[0]
        assert "  " in keep_ws["text_norm"]
        keep_q = normalize_text(df, "text", unify_quotes=False).collect()[0]
        assert "’" in keep_q["text_norm"]
