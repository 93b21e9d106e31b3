"""Hot-bucket guards for banded-LSH dedup (round-10 weak-flag fix).

A duplicate cluster of m documents shares every band hash, so the
banded self-join emits ~m^2/2 candidate pairs per band — the quadratic
OUTPUT blowup no AQE skew handling can shrink. The guards:

* ``collapse_identical``: identical signatures collapse to their min-id
  representative before banding (provably result-identical).
* ``hot_bucket_cap``: oversized buckets switch to a star comparison
  against the bucket min (m-1 pairs instead of m^2/2).

These tests lock (a) the drop-set equivalence of both guards on
duplicate-heavy corpora and (b) the LINEAR candidate-pair volume.
"""

import pytest
from pyspark.sql import functions as F

from tumult_analytics_spark.operators import dedup as D


def _clique_corpus(spark, m_exact, m_near, base="zq7xv kd93m wp2lr tj68n"):
    # m_exact byte-identical docs (ids 0..m_exact-1) plus m_near
    # near-duplicates (long shared prefix, tiny unique suffix; ids
    # m_exact..m_exact+m_near-1) plus a handful of unrelated docs.
    long_base = (base + " ") * 40
    rows = [(i, long_base) for i in range(m_exact)]
    rows += [
        (m_exact + i, long_base + f" v{i}") for i in range(m_near)
    ]
    rows += [
        (1_000_000 + i, f"completely unrelated text number {i} " * 10)
        for i in range(5)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestCollapseIdentical:
    def test_dedup_result_identical_with_and_without_collapse(self, spark):
        df = _clique_corpus(spark, m_exact=60, m_near=15)
        kept_on = sorted(
            r["doc_id"]
            for r in D.minhash_lsh_dedup(
                df, "text", "doc_id", num_hashes=32, bands=8,
                min_signature_similarity=0.7,
                collapse_identical=True, hot_bucket_cap=None,
            ).collect()
        )
        kept_off = sorted(
            r["doc_id"]
            for r in D.minhash_lsh_dedup(
                df, "text", "doc_id", num_hashes=32, bands=8,
                min_signature_similarity=0.7,
                collapse_identical=False, hot_bucket_cap=None,
            ).collect()
        )
        assert kept_on == kept_off
        # the exact clique keeps exactly its min id
        assert 0 in kept_on
        assert not any(1 <= k < 60 for k in kept_on)

    def test_identical_docs_join_volume_is_linear(self, spark):
        # With collapse, the m-identical cluster contributes ONE banded
        # row, so the candidate join sees no m^2 blowup at all: the
        # drop set is (m-1) exact drops + the near-dup star, and the
        # banded representative table has one row per distinct
        # signature per band.
        m = 500
        df = _clique_corpus(spark, m_exact=m, m_near=0)
        sigs = D.minhash_signatures_md5(df, "text", "doc_id", 32, 5)
        wrep = sigs.groupBy("signature").agg(
            F.count(F.lit(1)).alias("n")
        )
        top = wrep.agg(F.max("n")).collect()[0][0]
        assert top == m  # the cluster really is signature-identical
        kept = D.minhash_lsh_dedup(
            df, "text", "doc_id", num_hashes=32, bands=8,
            min_signature_similarity=0.7,
        )
        ids = sorted(r["doc_id"] for r in kept.collect())
        assert 0 in ids and not any(1 <= k < m for k in ids)


class TestHotBucketCap:
    def test_pair_volume_linear_under_cap(self, spark):
        # m rows with IDENTICAL signatures: uncapped the self-join
        # emits m(m-1)/2 distinct pairs; capped it emits m-1 (star).
        m = 400
        sig = list(range(32))
        sigs = spark.createDataFrame(
            [(i, sig) for i in range(m)],
            "doc_id long, signature array<long>",
        )
        capped = D.minhash_lsh_candidates(
            sigs, "doc_id", bands=8, min_signature_similarity=0.5,
            num_hashes=32, hot_bucket_cap=64,
        )
        assert capped.count() == m - 1
        uncapped = D.minhash_lsh_candidates(
            sigs.limit(40), "doc_id", bands=8,
            min_signature_similarity=0.5, num_hashes=32,
            hot_bucket_cap=None,
        )
        assert uncapped.count() == 40 * 39 // 2

    def test_star_pairs_anchor_on_bucket_min(self, spark):
        m = 100
        sig = list(range(32))
        sigs = spark.createDataFrame(
            [(i + 7, sig) for i in range(m)],
            "doc_id long, signature array<long>",
        )
        pairs = D.minhash_lsh_candidates(
            sigs, "doc_id", bands=8, min_signature_similarity=0.5,
            num_hashes=32, hot_bucket_cap=16,
        ).collect()
        assert all(r["id_a"] == 7 for r in pairs)
        assert all(r["signature_similarity"] == 1.0 for r in pairs)
        assert sorted(r["id_b"] for r in pairs) == list(range(8, 107))

    def test_small_buckets_keep_exact_pair_semantics(self, spark):
        # Two distinct small cliques below the cap: all-pairs output.
        a, b = list(range(32)), list(range(100, 132))
        sigs = spark.createDataFrame(
            [(i, a) for i in range(5)] + [(10 + i, b) for i in range(4)],
            "doc_id long, signature array<long>",
        )
        pairs = D.minhash_lsh_candidates(
            sigs, "doc_id", bands=8, min_signature_similarity=0.5,
            num_hashes=32, hot_bucket_cap=64,
        )
        assert pairs.count() == 5 * 4 // 2 + 4 * 3 // 2

    def test_dedup_clique_same_result_capped_and_exact(self, spark):
        # Near-dup clique with ids preceding everything else: the star
        # under the cap is drop-equivalent to the exact all-pairs join.
        df = _clique_corpus(spark, m_exact=0, m_near=120)
        kept_capped = sorted(
            r["doc_id"]
            for r in D.minhash_lsh_dedup(
                df, "text", "doc_id", num_hashes=32, bands=8,
                min_signature_similarity=0.7, hot_bucket_cap=8,
            ).collect()
        )
        kept_exact = sorted(
            r["doc_id"]
            for r in D.minhash_lsh_dedup(
                df, "text", "doc_id", num_hashes=32, bands=8,
                min_signature_similarity=0.7, hot_bucket_cap=None,
            ).collect()
        )
        assert kept_capped == kept_exact

    def test_cap_rejects_degenerate_values(self, spark):
        sigs = spark.createDataFrame(
            [(1, [1, 2])], "doc_id long, signature array<long>"
        )
        with pytest.raises(ValueError):
            D.minhash_lsh_candidates(
                sigs, "doc_id", bands=2, num_hashes=2, hot_bucket_cap=1
            )

    def test_ann_bucket_cap_segments_hot_buckets(self, spark):
        # 300 identical vectors land in ONE sign-LSH bucket per table;
        # with cap=32 the bucket is searched in id-ordered segments —
        # every row still gets k neighbors (cosine 1.0 — near-identical
        # cluster), and compute is m*cap not m^2.
        from tumult_analytics_spark.operators.similarity import (
            lsh_cosine_topk,
        )

        vec = [1.0] + [0.0] * 7
        df = spark.createDataFrame(
            [(i, vec) for i in range(300)],
            "doc_id long, embedding array<double>",
        )
        out = lsh_cosine_topk(
            df, "embedding", "doc_id", k=3, bits=4, tables=1, dim=8,
            deterministic=True, bucket_cap=32,
        )
        rows = out.collect()
        per_query = {}
        for r in rows:
            per_query.setdefault(r["query_id"], []).append(r["cosine"])
        assert len(per_query) == 300
        assert all(len(v) == 3 for v in per_query.values())
        assert all(abs(c - 1.0) < 1e-9 for v in per_query.values() for c in v)

    def test_no_cartesian_in_capped_plan(self, spark):
        sig = list(range(32))
        sigs = spark.createDataFrame(
            [(i, sig) for i in range(50)],
            "doc_id long, signature array<long>",
        )
        plan = (
            D.minhash_lsh_candidates(
                sigs, "doc_id", bands=8, num_hashes=32, hot_bucket_cap=16
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
