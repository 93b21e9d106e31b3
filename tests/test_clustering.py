"""Deterministic k-means: convergence on separable data, determinism
across runs, empty-cluster handling, and plan/driver-state contracts."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tumult_analytics_spark.operators.clustering import kmeans_fit_predict


def _mkdf(spark, arrays):
    return spark.createDataFrame(
        [(i, [float(x) for x in a]) for i, a in enumerate(arrays)],
        "vec_id long, embedding array<float>",
    )


def test_separable_clusters_recovered(spark):
    rng = np.random.default_rng(7)
    a = rng.normal(0.0, 0.05, (20, 4)) + np.array([1, 0, 0, 0])
    b = rng.normal(0.0, 0.05, (20, 4)) + np.array([0, 0, 1, 0])
    df = _mkdf(spark, np.vstack([a, b]))
    out, centroids = kmeans_fit_predict(df, k=2, n_iter=5)
    rows = out.select("vec_id", "cluster").collect()
    groups = {r["vec_id"]: r["cluster"] for r in rows}
    first = {groups[i] for i in range(20)}
    second = {groups[i] for i in range(20, 40)}
    assert len(first) == 1 and len(second) == 1 and first != second
    assert centroids.shape == (2, 4)
    # centroid of the 'a' blob is near [1,0,0,0]
    near_a = min(np.linalg.norm(centroids - np.array([1, 0, 0, 0]), axis=1))
    assert near_a < 0.05


def test_deterministic_across_runs(spark):
    rng = np.random.default_rng(3)
    df = _mkdf(spark, rng.normal(size=(50, 8)))
    r1 = sorted(
        (r["vec_id"], r["cluster"])
        for r in kmeans_fit_predict(df, k=4, n_iter=3)[0].collect()
    )
    r2 = sorted(
        (r["vec_id"], r["cluster"])
        for r in kmeans_fit_predict(df, k=4, n_iter=3)[0].collect()
    )
    assert r1 == r2


def test_zero_iter_assigns_to_seeds(spark):
    df = _mkdf(spark, [[0.0, 0.0], [10.0, 10.0], [0.1, 0.0], [9.9, 10.0]])
    out, centroids = kmeans_fit_predict(df, k=2, n_iter=0)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    # seeds are vec_id 0 and 1; 2 joins 0's cluster, 3 joins 1's.
    assert got[2] == got[0] == 0
    assert got[3] == got[1] == 1
    # dist to own seed centroid
    d = {r["vec_id"]: r["dist"] for r in out.collect()}
    assert d[0] == 0.0 and d[2] == pytest.approx(0.1)


def test_empty_cluster_keeps_centroid(spark):
    # Seeds are two coincident points at the origin plus data far away:
    # cluster 1 gets no members after iteration 1 (ties go to cid 0),
    # and must keep its centroid rather than crash or NaN.
    df = _mkdf(spark, [[0.0, 0.0], [0.0, 0.0], [5.0, 5.0], [5.1, 5.0]])
    out, centroids = kmeans_fit_predict(df, k=2, n_iter=3)
    assert not np.isnan(centroids).any()
    assert np.allclose(centroids[1], [0.0, 0.0])


def test_validation(spark):
    df = _mkdf(spark, [[0.0, 0.0]])
    with pytest.raises(ValueError):
        kmeans_fit_predict(df, k=0)
    with pytest.raises(ValueError):
        kmeans_fit_predict(df, k=5, n_iter=1)


def test_driver_state_is_only_centroids(spark, monkeypatch):
    # Above the driver cap only the centroids reach the driver: each
    # iteration collects k x (dim + 1) partial sums per partition, never
    # the assignments, and the result stays a lazy distributed frame.
    from tumult_analytics_spark import utils

    monkeypatch.setattr(utils, "DRIVER_LOOP_BYTES", 0)
    rng = np.random.default_rng(1)
    df = _mkdf(spark, rng.normal(size=(200, 4)))
    out, centroids = kmeans_fit_predict(df, k=3, n_iter=2)
    assert centroids.shape == (3, 4)
    assert "MapInArrow" in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() == 200


class TestSemanticDedup:
    def test_exact_copies_dropped(self, spark):
        from tumult_analytics_spark.operators.clustering import semantic_dedup

        rng = np.random.default_rng(11)
        base = rng.normal(size=(30, 6))
        # ids 100..109 are exact copies of ids 0..9
        arrays = np.vstack([base, base[:10]])
        df = spark.createDataFrame(
            [
                (i if i < 30 else 100 + (i - 30), [float(x) for x in a])
                for i, a in enumerate(arrays)
            ],
            "vec_id long, embedding array<float>",
        )
        kept = semantic_dedup(
            df, "embedding", "vec_id", k=3, n_iter=2, threshold=0.99
        )
        ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
        assert ids == set(range(30))  # every copy dropped, originals kept
        assert "cluster" in kept.columns

    def test_no_neighbors_keeps_all(self, spark):
        from tumult_analytics_spark.operators.clustering import semantic_dedup

        eye = np.eye(8)  # orthogonal: cosine 0 between all pairs
        df = _mkdf(spark, eye)
        kept = semantic_dedup(
            df, "embedding", "vec_id", k=2, n_iter=1, threshold=0.5
        )
        assert kept.count() == 8

    def test_cluster_size_guard(self, spark):
        from tumult_analytics_spark.operators.clustering import semantic_dedup
        from py4j.protocol import Py4JJavaError

        rng = np.random.default_rng(5)
        df = _mkdf(spark, rng.normal(size=(40, 4)))
        with pytest.raises(Exception) as ei:
            semantic_dedup(
                df, "embedding", "vec_id", k=1, n_iter=0,
                threshold=0.999, max_cluster_rows=10,
            ).count()
        assert "max_cluster_rows" in str(ei.value)

    def test_threshold_validation(self, spark):
        from tumult_analytics_spark.operators.clustering import semantic_dedup

        df = _mkdf(spark, np.eye(4))
        with pytest.raises(ValueError):
            semantic_dedup(df, threshold=0.0)
        with pytest.raises(ValueError):
            semantic_dedup(df, threshold=1.5)


def test_kmeans_auto_k_sizes_clusters(spark):
    # k=None -> ceil(n / KMEANS_TARGET_CLUSTER_ROWS): the linear scale
    # path (fixed k makes every per-cluster pass O(n^2/k)).
    from tumult_analytics_spark.operators.clustering import (
        KMEANS_TARGET_CLUSTER_ROWS,
        kmeans_fit_predict,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    out, cents = kmeans_fit_predict(emb, k=None, n_iter=1)
    import math

    expected_k = max(1, math.ceil(n / KMEANS_TARGET_CLUSTER_ROWS))
    assert cents.shape[0] == expected_k
    assert out.select("cluster").distinct().count() <= expected_k
    # semantic_dedup accepts the same auto-k and still dedups
    kept = semantic_dedup(emb, k=None, n_iter=1, threshold=0.99)
    assert 0 < kept.count() <= n


def test_semantic_dedup_lsh_vs_exact(spark):
    """method='lsh' drops a SUBSET of what exact drops (bucket
    collision AND cosine >= t implies cosine >= t) and always catches
    exact copies (identical vectors share every bucket)."""
    from tumult_analytics_spark.operators.clustering import semantic_dedup

    rng = np.random.default_rng(23)
    base = rng.normal(size=(40, 8))
    arrays = np.vstack([base, base[:12]])  # ids 100..111 copy ids 0..11
    df = spark.createDataFrame(
        [
            (i if i < 40 else 100 + (i - 40), [float(x) for x in a])
            for i, a in enumerate(arrays)
        ],
        "vec_id long, embedding array<float>",
    )
    kw = dict(k=3, n_iter=2, threshold=0.99)
    kept_exact = {
        r["vec_id"]
        for r in semantic_dedup(df, "embedding", "vec_id", **kw).collect()
    }
    kept_lsh = {
        r["vec_id"]
        for r in semantic_dedup(
            df, "embedding", "vec_id", method="lsh", bits=4,
            plane_kind="rademacher", round_scores=True, **kw
        ).collect()
    }
    assert kept_exact <= kept_lsh  # lsh never drops what exact keeps
    assert all(i < 100 for i in kept_lsh)  # every exact copy caught


def test_semantic_dedup_lsh_auto_bits(spark):
    from tumult_analytics_spark.operators.clustering import semantic_dedup

    eye = np.eye(8)
    df = _mkdf(spark, eye)
    kept = semantic_dedup(
        df, "embedding", "vec_id", k=2, n_iter=1, threshold=0.5,
        method="lsh",  # bits=None -> auto from count
    )
    assert kept.count() == 8  # orthogonal vectors all survive


def test_semantic_dedup_bad_method(spark):
    from tumult_analytics_spark.operators.clustering import semantic_dedup

    df = _mkdf(spark, np.eye(4))
    with pytest.raises(ValueError, match="method"):
        semantic_dedup(df, method="fuzzy")


@pytest.mark.parametrize("method", ["exact", "lsh"])
def test_semantic_dedup_infers_eval_type(spark, method):
    """The per-cluster kernel is fully type-hinted, so ``applyInPandas``
    infers its eval type instead of warning on every call."""
    import warnings

    from tumult_analytics_spark.operators.clustering import semantic_dedup

    df = _mkdf(spark, np.eye(4))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        semantic_dedup(df, k=2, n_iter=1, threshold=0.5, method=method)
    assert not [
        w for w in caught if "Cannot infer the eval type" in str(w.message)
    ]
