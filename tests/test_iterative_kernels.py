"""The iterative operators (k-means, BPE, the GD trainer) run each step
as one kernel: on the driver over one collected Arrow table up to
``utils.DRIVER_LOOP_BYTES``, else as one ``mapInArrow`` pass per step.
Both paths must give the same answers (after round-to-6, since sums run
in another order), and the driver path must stay within two Spark jobs."""

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from tumult_analytics_spark import utils
from tumult_analytics_spark.operators import clustering as C
from tumult_analytics_spark.operators import text as X


def _rounded(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_rounded(x) for x in v)
    return v


def _rows(df):
    return sorted(tuple(_rounded(v) for v in r) for r in df.collect())


def _both_paths(monkeypatch, fn):
    """``fn()`` on the driver path, then with the cap forced to 0."""
    driver = fn()
    with monkeypatch.context() as m:
        m.setattr(utils, "DRIVER_LOOP_BYTES", 0)
        above = fn()
    return driver, above


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"iterative-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _emb(spark, arrays):
    return spark.createDataFrame(
        [(i, [float(x) for x in a], f"r{i}") for i, a in enumerate(arrays)],
        "vec_id long, embedding array<float>, tag string",
    )


def test_probe_caps_collected_bytes(spark, monkeypatch):
    # The row cap comes from the caller's per-row estimate; a table that
    # passes it but is larger than the byte cap still stays in Spark.
    df = spark.createDataFrame([("x" * 1000,)] * 10, "s string")
    monkeypatch.setattr(utils, "DRIVER_LOOP_BYTES", 5000)
    assert utils.collect_below_cap(df, 1) is None
    monkeypatch.setattr(utils, "DRIVER_LOOP_BYTES", 1 << 20)
    assert utils.collect_below_cap(df, 1).num_rows == 10
    assert utils.collect_below_cap(df, 1 << 18) is None  # 4 rows at most


class TestKMeans:
    def _fit(self, monkeypatch, df, **kw):
        def fit():
            out, cents = C.kmeans_fit_predict(df, **kw)
            # One lazy final-assignment pass on both paths: the input's
            # other columns never reach the driver.
            assert "MapInArrow" in out._jdf.queryExecution().optimizedPlan().toString()
            return _rows(out), np.round(cents, 6)

        (a, ca), (b, cb) = _both_paths(monkeypatch, fit)
        assert a == b
        assert np.array_equal(ca, cb)
        return a, ca

    def test_paths_agree(self, spark, monkeypatch):
        df = _emb(spark, np.random.default_rng(3).normal(size=(60, 8)))
        rows, cents = self._fit(monkeypatch, df, k=4, n_iter=3)
        assert len(rows) == 60 and cents.shape == (4, 8)
        assert {r[3] for r in rows} == {0, 1, 2, 3}

    def test_empty_cluster_keeps_centroid(self, spark, monkeypatch):
        # Two coincident seeds: cluster 1 loses every member to cluster
        # 0 (ties go to the lower id) and keeps its seed.
        df = _emb(spark, [[0.0, 0.0], [0.0, 0.0], [5.0, 5.0], [5.1, 5.0]])
        _, cents = self._fit(monkeypatch, df, k=2, n_iter=3)
        assert np.array_equal(cents[1], [0.0, 0.0])

    def test_zero_iterations_assign_to_seeds(self, spark, monkeypatch):
        df = _emb(spark, [[0.0, 0.0], [10.0, 10.0], [0.1, 0.0], [9.9, 10.0]])
        rows, cents = self._fit(monkeypatch, df, k=2, n_iter=0)
        assert np.array_equal(cents, [[0.0, 0.0], [10.0, 10.0]])
        assert [r[3] for r in rows] == [0, 1, 0, 1]

    def test_auto_k(self, spark, monkeypatch):
        df = _emb(spark, np.random.default_rng(5).normal(size=(30, 4)))
        rows, cents = self._fit(monkeypatch, df, k=None, n_iter=1)
        assert cents.shape == (1, 4) and {r[3] for r in rows} == {0}

    def test_k_above_rows_raises(self, spark, monkeypatch):
        df = _emb(spark, [[0.0, 0.0], [1.0, 1.0]])

        def fit():
            with pytest.raises(ValueError, match="exceeds the number of rows"):
                C.kmeans_fit_predict(df, k=3, n_iter=1)

        _both_paths(monkeypatch, fit)

    def test_driver_path_jobs(self, spark):
        df = _emb(spark, np.random.default_rng(1).normal(size=(40, 4)))
        assert _jobs(spark, lambda: C.kmeans_fit_predict(df, k=3, n_iter=3)) <= 2


class TestBPE:
    def _learn(self, monkeypatch, spark, texts, n):
        df = spark.createDataFrame([(t,) for t in texts], "text string")

        def learn():
            merges, words = X.bpe_learn_merges(df, "text", n, return_words=True)
            return _rows(merges), _rows(words)

        (ma, wa), (mb, wb) = _both_paths(monkeypatch, learn)
        assert ma == mb and wa == wb
        return ma, wa

    def test_paths_agree(self, spark, monkeypatch):
        texts = ["the cat sat on the mat", "that hat", "a banana bandana"] * 3
        merges, words = self._learn(monkeypatch, spark, texts, 6)
        assert len(merges) == 6
        assert [m[0] for m in merges] == list(range(1, 7))

    def test_count_tie_breaks_by_left_then_right(self, spark, monkeypatch):
        # (b, a), (a, c) and (a, b) all count 1: the smallest (left,
        # right) wins each step.
        merges, _ = self._learn(monkeypatch, spark, ["ba", "ac", "ab"], 3)
        assert [(m[1], m[2]) for m in merges] == [
            ("a", "b"), ("a", "c"), ("b", "a")
        ]

    def test_single_symbol_words_have_no_pairs(self, spark, monkeypatch):
        merges, words = self._learn(monkeypatch, spark, ["a b a", "c"], 2)
        assert merges == []
        assert [(w[0], w[1]) for w in words] == [
            ("\x1fa\x1f", 2), ("\x1fb\x1f", 1), ("\x1fc\x1f", 1)
        ]

    def test_non_ascii_symbols_are_code_points(self, spark, monkeypatch):
        merges, _ = self._learn(monkeypatch, spark, ["é中😀 é中"], 3)
        assert merges == [
            (1, "é", "中", "é中", 2),
            (2, "é中", "😀", "é中😀", 1),
        ]

    def test_driver_path_jobs(self, spark):
        df = spark.createDataFrame([("the cat sat on the mat",)], "text string")
        assert _jobs(spark, lambda: X.bpe_learn_merges(df, "text", 4)) <= 2


class TestGD:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        texts = ["the data value", "der die das", "le la les et", "x y"]
        return spark.createDataFrame(
            [
                (i, texts[i % 4] * (1 + i % 5), ["en", "de", "fr", "xx"][i % 4])
                for i in range(40)
            ],
            "doc_id long, text string, lang string",
        ).withColumn("label", (F.length("text") > 30).cast("double"))

    def test_column_featurizer_paths_agree(self, spark, monkeypatch, docs):
        a, b = _both_paths(
            monkeypatch,
            lambda: _rows(X.quality_train_logreg(docs, "text", "label", steps=3)),
        )
        assert a == b and len(a) == 3
        a, b = _both_paths(
            monkeypatch,
            lambda: _rows(
                X.language_train_logreg(
                    docs, "text", "lang", ["en", "de", "fr"], dim=8, steps=2
                )
            ),
        )
        assert a == b and len(a) == 6

    def test_vec_featurizer_paths_agree(self, spark, monkeypatch, docs):
        a, b = _both_paths(
            monkeypatch,
            lambda: _rows(
                X.language_train_logreg_vec(
                    docs, "text", "lang", ["en", "de", "fr"], dim=8, steps=2
                )
            ),
        )
        assert a == b and len(a) == 6

    def test_null_rows_are_skipped(self, spark, monkeypatch, docs):
        # A null label (both trainers) or a null text (language_train_logreg,
        # whose n-gram features are then null) drops the row out of every
        # sum, as SQL avg() skips it: the model equals the one trained
        # without that row, on both paths.
        label = spark.createDataFrame(
            [(100, "the data value", None, None)], docs.schema
        )
        text = spark.createDataFrame([(101, None, "en", 1.0)], docs.schema)

        def train(quality_df, lang_df):
            return _rows(
                X.quality_train_logreg(quality_df, "text", "label", steps=3)
            ) + _rows(
                X.language_train_logreg(
                    lang_df, "text", "lang", ["en", "de", "fr"], dim=8, steps=2
                )
            )

        with_nulls = docs.unionByName(label)
        a, b = _both_paths(
            monkeypatch,
            lambda: train(with_nulls, with_nulls.unionByName(text)),
        )
        assert a == b == train(docs, docs)

    def test_featurizers_train_the_same_model(self, spark, docs):
        classes = ["en", "de", "fr"]
        cols = X.language_train_logreg(
            docs, "text", "lang", classes, dim=8, steps=2
        ).collect()
        vec = X.language_train_logreg_vec(
            docs, "text", "lang", classes, dim=8, steps=2
        ).collect()
        by = {(r["step"], r["class"]): r for r in cols}
        for r in vec:
            c = by[(r["step"], r["class"])]
            assert r["bias"] == pytest.approx(c["bias"], abs=1e-12)
            assert r["w"] == pytest.approx([c[f"w{j}"] for j in range(8)], abs=1e-12)

    def test_guards(self, spark, monkeypatch, docs):
        def guards():
            with pytest.raises(ValueError, match="empty training input"):
                X.quality_train_logreg(docs.filter("1=0"), "text", "label")
            with pytest.raises(ValueError, match="empty training input"):
                X.language_train_logreg_vec(
                    docs.filter("1=0"), "text", "lang", ["en"], dim=4
                )
            with pytest.raises(ValueError, match="steps"):
                X.quality_train_logreg(docs, "text", "label", steps=0)

        _both_paths(monkeypatch, guards)

    def test_driver_path_jobs(self, spark, docs):
        assert _jobs(
            spark, lambda: X.quality_train_logreg(docs, "text", "label", steps=3)
        ) <= 2
