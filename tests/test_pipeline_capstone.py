"""Capstone integration test: the full training-data pipeline composed
end-to-end over the real documents table — quality gate -> exact dedup
-> MinHash near-dup dedup -> exact substring span removal (winnow
prefiltered) -> benchmark decontamination -> DSIR target selection ->
sequence packing -> deterministic split -> sharded export — with row
accounting verified at every stage. Each operator is oracle-checked
individually elsewhere; this test proves they COMPOSE (schemas line
up, laziness doesn't break, determinism survives the chain).
"""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_full_pipeline_composes(spark, docs, tmp_path):
    from tumult_analytics_spark.operators import dedup as D
    from tumult_analytics_spark.operators import pipeline as P
    from tumult_analytics_spark.operators import text as X

    n0 = docs.count()

    # 1. Quality gate: token-count floor (cheap Gopher-style cut).
    toked = X.token_count(docs, "text")
    gated = toked.filter("n_tokens >= 5")
    n1 = gated.count()
    assert 0 < n1 <= n0

    # 2. Exact dedup on text.
    exact = D.dedup_exact(gated, ["text"])
    n2 = exact.count()
    assert n2 <= n1

    # 3. Near-dup dedup (MinHash LSH, md5 kernel).
    near = D.minhash_lsh_dedup(
        exact, "text", "doc_id", num_hashes=32, bands=8,
        min_signature_similarity=0.7,
    )
    n3 = near.count()
    assert n3 <= n2

    # 4. Exact substring span removal, winnow-prefiltered; the text
    # column is REPLACED by the cleaned text for later stages.
    spanned = D.substring_dedup(
        near, "text", "doc_id", min_length=50, prefilter_winnow=True
    )
    cleaned = spanned.drop("text").withColumnRenamed("text_dedup", "text")
    assert cleaned.count() == n3  # span removal never drops rows

    # 5. Decontamination against a held-out "benchmark" slice.
    benchmark = docs.filter("doc_id % 13 = 0")
    decon = D.crosscorpus_decontaminate(
        cleaned.filter("doc_id % 13 != 0"), benchmark, "text", "doc_id",
        num_hashes=32, bands=8, min_signature_similarity=0.7,
    )
    n5 = decon.count()
    assert n5 <= n3

    # 6. DSIR selection toward a target slice.
    target = docs.filter("doc_id % 7 = 0")
    n_sel = min(n5, 40)
    selected = P.dsir_resample(
        decon, target, "text", "doc_id", n=n_sel
    )
    assert selected.count() == n_sel

    # 7. Pack into fixed-length sequences (needs token counts on the
    # CLEANED text).
    repacked = X.token_count(
        selected.drop("n_tokens"), "text"
    ).filter("n_tokens > 0")
    packed = P.pack_sequences(repacked, "n_tokens", seq_len=128, n_shards=4)
    total_tokens = repacked.agg(F.sum("n_tokens")).first()[0]
    assert packed.count() == repacked.count()  # packing keeps every doc
    max_seq = packed.agg(F.max("last_seq")).first()[0]
    assert max_seq + 1 >= total_tokens // (128 * 4 * 2)  # sane lower bound

    # 8. Deterministic split: same inputs -> same membership, disjoint
    # and exhaustive.
    split = P.split_dataset(
        selected, "doc_id", {"train": 0.8, "val": 0.2}
    )
    counts = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(counts.values()) == n_sel
    again = P.split_dataset(selected, "doc_id", {"train": 0.8, "val": 0.2})
    a = sorted((r["doc_id"], r["split"]) for r in split.collect())
    b = sorted((r["doc_id"], r["split"]) for r in again.collect())
    assert a == b

    # 9. Sharded export round-trips.
    out_dir = str(tmp_path / "export")
    P.export_shards(
        split.filter("split = 'train'"), out_dir, key_column="doc_id",
        n_shards=2, format="parquet",
    )
    back = spark.read.parquet(out_dir)
    assert back.count() == counts["train"]
    assert os.path.isdir(out_dir)
