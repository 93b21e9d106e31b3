"""Nearest-neighbor search and near-duplicate scoring over an embedding
column.

Four search paths, each with an index form (an :class:`AnnIndex` built
once and queried many times; the one-shot functions are an
unmaterialized build followed by one search of the corpus against
itself):
- brute force (:func:`brute_force_cosine_topk`): exact. Each query
  partition does one numpy matmul against a broadcast corpus matrix,
  guarded by ``max_collect_rows``. O(|Q| * |C|): the correctness
  oracle for the approximate paths. No index form.
- sign LSH (:func:`lsh_cosine_topk`; :func:`build_lsh_index` /
  :func:`query_lsh_index`): random-hyperplane buckets. One Arrow pass
  computes the unit vector and every table's bucket id; the tables are
  melted to one (table, bucket) key, so one shuffled groupBy scores
  every bucket with one matmul per slice. Hot buckets above
  ``bucket_cap`` are searched in id-ordered segments.
- IVF (:func:`ivf_cosine_topk`; :func:`build_ivf_index` /
  :func:`query_ivf_index`): k-means (or pinned) coarse cells; each
  query probes its ``nprobe`` nearest cells through one cogroup.
- IVF-PQ (:func:`build_ivfpq_index` / :func:`query_ivfpq_index`): the
  index stores a cell id plus product-quantization codes instead of
  floats; cells are scored by asymmetric distance (lookup-table
  gathers), optionally re-ranked exactly against the corpus.

Two private steps hold the scoring decisions every path shares:
- :func:`_topk_rows`: one (query slice x corpus) score block in,
  ``(query_id, neighbor_id, cosine)`` rows out. Self-matches are
  excluded by id equality and the per-query top-k comes from
  :func:`_topk_indices` (raw-score argpartition, or the rounded,
  id-tie-broken order that SQL replays).
- :func:`_smaller_id_dups`: the near-duplicate drop rule. It returns
  the ids that have a strictly smaller-id row with cosine >= a
  threshold. ``dedup.embedding_cosine_dedup`` and
  ``clustering.semantic_dedup`` use it on both their exact and their
  LSH paths.

Design rule learned by measurement: Catalyst higher-order-function
lambdas (zip_with/aggregate) are interpreted, NOT codegen'd — per-element
arithmetic over a 64-dim array costs ~1 ms/row. Every vector kernel here
is therefore an Arrow-batched numpy op; vectors cross the Python boundary
once per stage, never once per pair.
"""

from __future__ import annotations

import random
from typing import List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..utils import local_frame, spread_rows

#: Default ceiling for driver-side collects in the brute-force paths.
#: They are exact oracles, O(|corpus|) driver memory — refuse beyond this.
BRUTE_FORCE_MAX_ROWS = 200_000

#: Query-row block size for the brute-force matmuls. The similarity
#: matrix is materialized one (block x corpus) slice at a time, so peak
#: temp memory per task is _BRUTE_SLICE * corpus * 8 bytes (~0.8 GB at
#: the 200k-row guard limit) no matter how large the Arrow batch is.
#: Without this, a 10k-row Arrow batch against a 200k corpus allocates
#: a 16 GB float64 matrix PER TASK — 32 local threads then swap the box
#: (measured: a 33-minute straggler at sf10 with 23 GB worker RSS).
_BRUTE_SLICE = 512


def _guard_brute_force(df: DataFrame, max_rows: int, op: str) -> None:
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"{op} collects the corpus to the driver and got {n} rows "
            f"(limit {max_rows}). Use lsh_cosine_topk or ivf_cosine_topk "
            "for large corpora, or raise max_collect_rows explicitly."
        )


def _hyperplanes(dim: int, bits: int, seed: int) -> List[List[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


#: Deterministic Rademacher (+-1) hyperplane hash — plain integer
#: arithmetic (+, *, //, %) in BIGINT-safe range so an external SQL
#: engine can recompute the exact same planes (the value-oracle path).
#: The MID-SQUARE step is load-bearing: a single affine LCG step is
#: linear in the seed, so rows at consecutive `bit` offsets were
#: near-shifted copies (measured max inter-row correlation 0.97 —
#: effective entropy of a 14-bit bucket collapsed to ~5 bits and 3% of
#: the sf100 corpus piled into ONE bucket, turning the bucketed
#: pairwise pass quadratic: 28x for 10x data). Squaring the spread
#: seed and taking middle bits breaks the affinity: measured max row
#: correlation 0.56 (the random-matrix level for +-1 rows at dim 64)
#: and max bucket occupancy 77 vs 6858 on the same sample.
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 1 << 31


def _rademacher_sign(table: int, bit: int, dim_idx: int) -> int:
    h1 = (_LCG_A * (table * 100003 + bit * 641 + dim_idx) + _LCG_C) % _LCG_M
    v = ((h1 * h1) // 32768) % _LCG_M
    return 1 if v >= _LCG_M // 2 else -1


def _hyperplanes_rademacher(dim: int, bits: int, table: int) -> List[List[float]]:
    """+-1 hyperplanes from a tiny LCG over (table, bit, dim). Sign-LSH
    with Rademacher planes has the same collision-probability guarantee
    as Gaussian planes (Achlioptas-style sparse projections), and the
    integer formula is reproducible in ANSI SQL."""
    return [
        [float(_rademacher_sign(table, b, d)) for d in range(dim)]
        for b in range(bits)
    ]


def _normalize_and_bucket(
    df: DataFrame,
    embedding_column: str,
    id_column: str,
    planes_per_table: List[List[List[float]]],
    carry: tuple = (),
) -> DataFrame:
    """One Arrow pass: (id, __nv__ array<double>, __b0__..__bT__ int).

    Normalization and all tables' sign-bucket ids come from two numpy
    matmuls per batch. ``carry`` names extra input columns copied
    through unchanged (e.g. a cluster id), saving the caller a
    join-back shuffle.
    """
    import numpy as np
    import pandas as pd

    id_field = df.schema[id_column]
    fields = (
        [T.StructField(id_column, id_field.dataType, True)]
        + [
            T.StructField(c, df.schema[c].dataType, True)
            for c in carry
        ]
        + [T.StructField("__nv__", T.ArrayType(T.DoubleType()), True)]
        + [
            T.StructField(f"__b{t}__", T.IntegerType(), True)
            for t in range(len(planes_per_table))
        ]
    )
    out_schema = T.StructType(fields)
    plane_mats = [list(map(list, zip(*p))) for p in planes_per_table]  # dim x bits

    def kernel(batches):
        import numpy as np

        mats = [np.array(p) for p in plane_mats]  # (dim, bits)
        pows = [1 << np.arange(m.shape[1]) for m in mats]
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=[f.name for f in fields])
                continue
            M = np.stack(pdf[embedding_column].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            N = M / norms
            out = {id_column: pdf[id_column]}
            for c in carry:
                out[c] = pdf[c]
            out["__nv__"] = list(N)
            for t, (mat, pw) in enumerate(zip(mats, pows)):
                # sign(dot) is scale-invariant: use the RAW vector so the
                # bucket bit is reproducible without replaying the
                # normalization division (the SQL oracle does the same).
                signs = (M @ mat) >= 0
                out[f"__b{t}__"] = (signs * pw).sum(axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    return spread_rows(
        df.select(id_column, *carry, embedding_column)
    ).mapInPandas(kernel, out_schema)


def _unit_rows(vectors):
    """(n, dim) float64 matrix of ``vectors`` scaled to unit norm; zero
    vectors stay zero."""
    import numpy as np

    M = np.stack(list(vectors)).astype(np.float64, copy=False)
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)


def _collect_unit_rows(df: DataFrame, embedding_column: str, id_column: str):
    """Driver-side ``(ids, unit-vector matrix)`` of a brute-force corpus
    (callers guard its size first)."""
    import numpy as np

    rows = df.select(id_column, embedding_column).collect()
    return np.array([r[0] for r in rows]), _unit_rows([r[1] for r in rows])


def brute_force_cosine_topk(
    corpus: DataFrame,
    embedding_column: str,
    id_column: str,
    k: int = 10,
    queries: Optional[DataFrame] = None,
    max_collect_rows: int = BRUTE_FORCE_MAX_ROWS,
    include_rank: bool = True,
    deterministic: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query row (default: corpus
    itself). Output: (query_id, neighbor_id, cosine, rank).

    The corpus matrix is collected and broadcast — this is the exact
    oracle, guarded by ``max_collect_rows``; use lsh_cosine_topk or
    ivf_cosine_topk when the corpus is large. Each query partition does
    one numpy matmul against the broadcast matrix.

    ``include_rank=False`` drops the rank column AND the global
    rank-window pass that computes it — for callers that re-rank the
    pairs themselves (e.g. on round(cosine, 6) with an id tie-break)
    and pass ``k >= corpus rows``, where every pair survives the
    ``rank <= k`` filter anyway: the kernel already emits only the
    per-query top-k non-self pairs, so the window is a full sort of
    the entire pair set that changes nothing but the column.

    ``deterministic=True`` selects the per-query top-k INSIDE the
    kernel by (round(cosine, 6) desc, id asc) — the same composite
    ordering :func:`_topk_indices` gives every other search path —
    instead of raw-cosine argpartition. Because each kernel row scores
    the query against the ENTIRE broadcast corpus, the kernel's
    rounded top-k equals what a window over all pairs would keep, so
    callers that re-rank on the rounded key can pass their true ``k``
    (3, not 10**6) and the kernel emits k rows per query instead of
    the whole pair set.
    """
    import numpy as np
    import pandas as pd

    _guard_brute_force(corpus, max_collect_rows, "brute_force_cosine_topk")
    qdf = queries if queries is not None else corpus
    c_ids, C = _collect_unit_rows(corpus, embedding_column, id_column)
    sc = corpus.sparkSession.sparkContext
    bc_ids, bc_C = sc.broadcast(c_ids), sc.broadcast(C)

    def kernel(batches):
        ids_c, Cm = bc_ids.value, bc_C.value
        # One reusable score buffer per task: per-slice ~|corpus|-wide
        # fresh allocations across 32 parallel workers caused an
        # mmap/page-fault storm (96% system time at 200k rows).
        Sbuf = np.empty((_BRUTE_SLICE, len(ids_c)))
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=["query_id", "neighbor_id", "cosine"])
                continue
            Qa = _unit_rows(pdf[embedding_column])
            qids_a = pdf[id_column].to_numpy()
            for s in range(0, len(qids_a), _BRUTE_SLICE):
                Q = Qa[s : s + _BRUTE_SLICE]
                S = np.matmul(Q, Cm.T, out=Sbuf[: len(Q)])  # (block, corpus)
                yield _topk_rows(
                    S, qids_a[s : s + _BRUTE_SLICE], ids_c, k, deterministic
                )

    scored = spread_rows(qdf.select(id_column, embedding_column)).mapInPandas(
        kernel, _topk_out_schema(corpus.schema[id_column])
    )
    # The kernel emits at most k pairs per query, so the rank <= k
    # filter below never drops a row — the window exists only to ATTACH
    # the rank column. Callers that re-rank themselves skip the full
    # pair-set sort via include_rank=False (same row set).
    return scored if not include_rank else _rank_topk(scored, k, None)


def _topk_indices(S, ids, kk: int, deterministic: bool):
    """Per-row top-kk column indices of S. Deterministic mode ranks on
    round(S, 6) with an id tie-break (reproducible in SQL); default mode
    is an O(n) argpartition on the exact scores.

    The deterministic tie-break is vectorized as a composite sort key:
    ``round(S, 6) - id_rank * 2e-13``. Rounded scores are exact multiples
    of 1e-6 (adjacent distinct values differ by >= ~1e-6), and the
    perturbation is at most ``n * 2e-13`` — strictly inside the half-gap
    for n up to ~2e6 columns while each adjacent rank pair still differs
    by 2e-13 >> ulp(1.0). One C-speed argpartition instead of a per-row
    Python lexsort (which measured 8+ min/task on 50k x 12k blocks at
    the sf10 scale campaign). Larger blocks fall back to the exact loop.
    """
    import numpy as np

    if not deterministic:
        return np.argpartition(-S, kth=kk - 1, axis=1)[:, :kk]
    Sr = np.round(S, 6)
    n = len(ids)
    if n > 2_000_000:  # composite-key precision bound: exact fallback
        out = np.empty((S.shape[0], kk), dtype=np.int64)
        for i in range(S.shape[0]):
            out[i] = np.lexsort((ids, -Sr[i]))[:kk]
        return out
    rank = np.empty(n, dtype=np.float64)
    rank[np.argsort(ids, kind="stable")] = np.arange(n, dtype=np.float64)
    Sr -= rank[None, :] * 2e-13
    return np.argpartition(-Sr, kth=kk - 1, axis=1)[:, :kk]


def _topk_rows(S, qids, cids, k: int, deterministic: bool):
    """The top-k step of every search path: ``S`` is one (query slice x
    corpus) score block (overwritten), ``qids``/``cids`` its row and
    column ids. Self-matches (equal ids) score ``-inf``; each query
    selects its top ``min(k, |corpus|)`` columns by
    :func:`_topk_indices` and drops the excluded self entry, so a query
    outside the corpus keeps ``min(k, |corpus|)`` neighbors and one
    inside keeps ``min(k, |corpus| - 1)``. Returns ``(query_id,
    neighbor_id, cosine)`` rows."""
    import numpy as np
    import pandas as pd

    S[qids[:, None] == cids[None, :]] = -np.inf
    kk = min(k, S.shape[1])
    flat = _topk_indices(S, cids, kk, deterministic).ravel()
    scores = S[np.repeat(np.arange(len(qids)), kk), flat]
    keep = np.isfinite(scores)
    return pd.DataFrame(
        {
            "query_id": np.repeat(qids, kk)[keep],
            "neighbor_id": cids[flat][keep],
            "cosine": scores[keep],
        }
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    embedding_column: str,
    id_column: str,
    k: int = 10,
    bits: Optional[int] = 8,
    tables: int = 2,
    dim: int = 64,
    seed: int = 42,
    plane_kind: str = "gauss",
    deterministic: bool = False,
    rank_k=None,
    bucket_cap: Optional[int] = 8192,
    include_rank: bool = True,
) -> DataFrame:
    """Approximate top-k: per-bucket pairwise matmuls across ``tables``
    independent sign-LSH tables; union, keep best score per pair, global
    top-k per query. Cost: sum of per-bucket squares instead of |C|^2 —
    and ``bucket_cap`` bounds even that: a bucket larger than the cap
    (a boilerplate near-duplicate cluster that sign-LSH cannot split,
    since identical vectors share every plane sign) is searched in
    id-ordered segments of <= cap rows, turning the per-bucket cost
    from m^2 to m*cap. Segment-local recall loss is negligible for the
    clusters that trigger it (members are near-identical) and other
    tables re-bucket independently; set None for exact per-bucket
    all-pairs.

    All tables are processed in ONE shuffle: the per-table bucket ids are
    melted to a long (table, bucket) key with ``stack`` and grouped once —
    no persist (the old per-table fan-out re-read a persisted prep T
    times, leaking executor memory across a long session) and no repeated
    scan of the input.

    ``plane_kind``: "gauss" (default) or "rademacher" — +-1 planes from a
    deterministic integer formula, reproducible in SQL for value checks.

    ``include_rank=False`` (same contract as
    :func:`brute_force_cosine_topk`) drops the rank column AND the
    rank-window pass that computes it — for callers that re-rank the
    candidate pairs themselves (e.g. on round(cosine, 6) with an id
    tie-break) and pass ``rank_k`` >= the candidate count, where every
    pair survives the filter anyway: the kernel already truncates to
    the per-(table, bucket) top-``k``, so the window is a per-query
    sort that changes nothing but the column.

    A one-shot search is an unmaterialized :func:`build_lsh_index`
    whose buckets are each searched against themselves.
    """
    import numpy as np
    import pandas as pd

    index = build_lsh_index(
        corpus, embedding_column, id_column, bits=bits, tables=tables,
        dim=dim, seed=seed, plane_kind=plane_kind, materialize=False,
    )
    block_topk = _block_topk_fn(id_column, k, deterministic)

    def bucket_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if bucket_cap is None or len(pdf) <= bucket_cap:
            return block_topk(key, pdf, pdf)
        # Hot-bucket compute guard: an m-row bucket costs O(m^2)
        # multiply-adds (row slicing bounds MEMORY, not compute — a
        # 10^6-copy boilerplate cluster is 10^12 dot products). Split
        # the bucket into id-ordered segments of <= cap rows and search
        # within segments only: O(m * cap) compute, linear in m.
        # Oversized buckets are near-duplicate clusters in practice, so
        # segment-local neighbors are representative; other LSH tables
        # independently re-bucket the same rows, recovering
        # cross-segment pairs.
        order = np.argsort(pdf[id_column].to_numpy(), kind="stable")
        segs = [
            pdf.iloc[order[s : s + bucket_cap]].reset_index(drop=True)
            for s in range(0, len(order), bucket_cap)
        ]
        return pd.concat(
            [block_topk(key, seg, seg) for seg in segs], ignore_index=True
        )

    cand = index.df.groupBy("__t__", "__bkt__").applyInPandas(
        bucket_topk, _topk_out_schema(corpus.schema[id_column])
    )
    return _merge_tables(cand, k, rank_k, include_rank)


def _melt_tables(
    prepped: DataFrame, id_column: str, tables: int, carry: tuple = ()
) -> DataFrame:
    """(id, nv, b0..bT) -> (id, nv, __t__, __bkt__): one row per table, so
    a single groupBy(__t__, __bkt__) covers every LSH table in one
    shuffle."""
    stack_expr = "stack({}, {}) as (__t__, __bkt__)".format(
        tables, ", ".join(f"{t}, __b{t}__" for t in range(tables))
    )
    return prepped.select(id_column, *carry, "__nv__", F.expr(stack_expr))


def _block_topk_fn(id_column: str, k: int, deterministic: bool):
    """Cogrouped (queries x corpus-block) top-k: per QUERY SLICE of
    ``_BRUTE_SLICE`` rows, one matmul against the block's unit vectors
    (``__nv__``), then :func:`_topk_rows`. Shared by the LSH bucket
    self-search, the IVF cell search and the persisted-index query
    paths. Slicing bounds peak temp memory at ``_BRUTE_SLICE * |cell| *
    8`` bytes per score/key matrix — without it a 16-cell index over a
    200k corpus put a 5 GB matrix (x2 with the rounded copy) in EVERY
    task (found by the sf10 campaign, same defect class as the
    brute-kernel fix it mirrors)."""
    import numpy as np
    import pandas as pd

    def block_topk(key, qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "cosine"])
        Qa = np.stack(qpdf["__nv__"].to_numpy())
        # A self-search scores one matrix against itself, so a block that
        # fits in one slice takes numpy's symmetric (syrk) kernel and
        # its scores equal a plain ``M @ M.T`` bit for bit.
        C = Qa if cpdf is qpdf else np.stack(cpdf["__nv__"].to_numpy())
        qids_a = qpdf[id_column].to_numpy()
        cids = cpdf[id_column].to_numpy()
        Sbuf = np.empty((min(_BRUTE_SLICE, len(qids_a)), len(cids)))
        outs = []
        for s in range(0, len(qids_a), _BRUTE_SLICE):
            Q = Qa[s : s + _BRUTE_SLICE]
            S = np.matmul(Q, C.T, out=Sbuf[: len(Q)])
            outs.append(
                _topk_rows(
                    S, qids_a[s : s + _BRUTE_SLICE], cids, k, deterministic
                )
            )
        return pd.concat(outs, ignore_index=True)

    return block_topk


def _topk_out_schema(id_field: T.StructField) -> T.StructType:
    return T.StructType(
        [
            T.StructField("query_id", id_field.dataType, True),
            T.StructField("neighbor_id", id_field.dataType, True),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )


def _rank_topk(best: DataFrame, k: int, rank_k) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return best.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= (k if rank_k is None else rank_k)
    )


def _merge_tables(cand: DataFrame, k: int, rank_k, include_rank: bool):
    """Multi-table LSH candidates -> one row per (query, neighbor) with
    its best cosine, ranked unless ``include_rank`` is False."""
    best = cand.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    return best if not include_rank else _rank_topk(best, k, rank_k)


class AnnIndex:
    """A persisted approximate-nearest-neighbor index: the bucketed
    signature/cell DataFrame plus the parameters needed to bucket future
    queries identically (``build once, query many``).

    ``df`` is an ordinary DataFrame — write it as a table, checkpoint
    it, or pass it straight to the matching ``query_*_index`` function.
    ``save``/``load`` round-trip both the data and the parameters
    through any Spark-writable filesystem (parquet + a one-line JSON
    text file), so a 100 TB pipeline builds the index in one job and
    serves many query batches from it without recomputing signatures or
    cell assignments.
    """

    def __init__(self, kind: str, df: DataFrame, params: dict):
        self.kind = kind
        self.df = df
        self.params = params

    def save(self, path: str) -> None:
        import json

        self.df.write.mode("overwrite").parquet(f"{path}/data")
        spark = self.df.sparkSession
        meta = {"kind": self.kind, "params": self.params}
        local_frame(
            spark, [(json.dumps(meta),)], "meta string"
        ).coalesce(1).write.mode("overwrite").text(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "AnnIndex":
        import json

        meta = json.loads(spark.read.text(f"{path}/meta").first()[0])
        df = spark.read.parquet(f"{path}/data")
        return cls(meta["kind"], df, meta["params"])

    # --- maintenance (the months-long-crawl lifecycle) -----------------
    # extend_* unions new rows onto the stored table forever; without
    # compaction a long-lived index accumulates rows for deleted corpus
    # ids and duplicate rows for re-extended ids. compact() + stats()
    # close that loop: stats to observe growth, compact to shed it.

    def _entry_keys(self):
        """(id column, per-id partition columns) of the stored table —
        the natural key one index entry is identified by."""
        if self.kind == "minhash":
            return "__id__", ["__band__"]
        if self.kind == "lsh":
            return self.params["id_column"], ["__t__"]
        if self.kind in ("ivf", "ivfpq"):
            return self.params["id_column"], []
        raise ValueError(f"unknown index kind {self.kind!r}")

    def stats(self) -> dict:
        """One aggregation pass over the stored table: total rows,
        distinct indexed ids, distinct hash buckets (bands/tables x
        buckets/cells), and rows-per-id (the duplication factor that
        tells you when to compact — a freshly built index has exactly
        bands/tables/1 rows per id)."""
        id_col, parts = self._entry_keys()
        bucket_cols = {
            "minhash": ["__band__", "__bh__"],
            "lsh": ["__t__", "__bkt__"],
            "ivf": ["__cell__"],
            "ivfpq": ["__cell__"],
        }[self.kind]
        row = self.df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct(F.col(id_col)).alias("ids"),
            F.countDistinct(*[F.col(c) for c in bucket_cols]).alias("buckets"),
        ).first()
        rows, ids = int(row["rows"]), int(row["ids"])
        return {
            "kind": self.kind,
            "rows": rows,
            "ids": ids,
            "buckets": int(row["buckets"]),
            "rows_per_id": (rows / ids) if ids else 0.0,
        }

    def compact(self, deleted_ids=None, materialize: bool = True) -> "AnnIndex":
        """A new index with deleted corpus ids dropped and duplicate
        entries (from re-extending the same id) collapsed to one row per
        natural key. ``deleted_ids`` is a one-column DataFrame or a
        Python iterable of ids; the delete side is broadcast (a delete
        list is small next to a corpus-scale index — the index itself
        never shuffles for the anti-join). Re-materializes by default so
        downstream queries read the compacted blocks, not the union
        lineage; ``save()`` the result to persist the compaction.
        """
        id_col, parts = self._entry_keys()
        df = self.df
        if deleted_ids is not None:
            if not isinstance(deleted_ids, DataFrame):
                spark = df.sparkSession
                field = df.schema[id_col]
                deleted_ids = local_frame(
                    spark,
                    [(v,) for v in deleted_ids],
                    T.StructType([T.StructField(id_col, field.dataType, True)]),
                )
            dels = F.broadcast(
                deleted_ids.toDF(id_col).dropDuplicates([id_col])
            )
            df = df.join(dels, on=id_col, how="left_anti")
        df = df.dropDuplicates([id_col, *parts])
        if materialize:
            df = df.localCheckpoint(eager=True)
        return AnnIndex(self.kind, df, dict(self.params))


def build_lsh_index(
    corpus: DataFrame,
    embedding_column: str,
    id_column: str,
    bits: Optional[int] = 8,
    tables: int = 2,
    dim: int = 64,
    seed: int = 42,
    plane_kind: str = "gauss",
    materialize: bool = True,
) -> AnnIndex:
    """Build a sign-LSH index: one Arrow pass computes every table's
    bucket id per row; the melted (id, vector, table, bucket) DataFrame
    is materialized once (eager localCheckpoint) so repeated
    :func:`query_lsh_index` calls never recompute signatures. Planes are
    derived deterministically from (bits, tables, dim, seed,
    plane_kind), so a saved index can bucket queries identically after
    reload without storing the planes themselves. ``bits=None``
    auto-scales the bucket width with corpus size (stored concretely in
    the index params, so reload/query are unaffected)."""
    if bits is None:
        bits = _auto_lsh_bits(corpus.count())
    planes = _planes_for(plane_kind, dim, bits, tables, seed)
    melted = _melt_tables(
        _normalize_and_bucket(corpus, embedding_column, id_column, planes),
        id_column,
        tables,
    )
    if materialize:
        melted = melted.localCheckpoint(eager=True)
    params = {
        "embedding_column": embedding_column,
        "id_column": id_column,
        "bits": bits,
        "tables": tables,
        "dim": dim,
        "seed": seed,
        "plane_kind": plane_kind,
    }
    return AnnIndex("lsh", melted, params)


def _planes_for(
    plane_kind: str, dim: int, bits: int, tables: int, seed: int
) -> List[List[List[float]]]:
    if plane_kind == "rademacher":
        return [_hyperplanes_rademacher(dim, bits, t) for t in range(tables)]
    return [_hyperplanes(dim, bits, seed + 1000 * t) for t in range(tables)]


def query_lsh_index(
    index: AnnIndex,
    queries: DataFrame,
    k: int = 10,
    deterministic: bool = False,
    rank_k=None,
    include_rank: bool = True,
) -> DataFrame:
    """Top-k cosine search against a prebuilt LSH index. Buckets only
    the QUERY rows (one Arrow pass), cogroups with the index on
    (table, bucket), scores each block with one matmul, then merges the
    per-table candidates (max cosine per pair) and ranks. The index
    side is read as-is — no signature recomputation.
    ``include_rank=False``: skip the rank window for callers that
    re-rank the candidates themselves (see :func:`lsh_cosine_topk`)."""
    if index.kind != "lsh":
        raise ValueError(f"expected an lsh index, got {index.kind!r}")
    p = index.params
    planes = _planes_for(
        p["plane_kind"], p["dim"], p["bits"], p["tables"], p["seed"]
    )
    id_column = p["id_column"]
    q_melted = _melt_tables(
        _normalize_and_bucket(
            queries, p["embedding_column"], id_column, planes
        ),
        id_column,
        p["tables"],
    )
    id_field = queries.schema[id_column]
    fn = _block_topk_fn(id_column, k, deterministic)
    cand = (
        q_melted.groupBy("__t__", "__bkt__")
        .cogroup(index.df.groupBy("__t__", "__bkt__"))
        .applyInPandas(fn, _topk_out_schema(id_field))
    )
    return _merge_tables(cand, k, rank_k, include_rank)


def extend_lsh_index(
    index: AnnIndex, new_rows: DataFrame, materialize: bool = True
) -> AnnIndex:
    """A new LSH index covering the old corpus plus ``new_rows``: only
    the new side is normalized/bucketed (planes re-derived from the
    stored params — they were never stored, by design); the existing
    melted table is reused as-is. The embedding-side sibling of
    ``dedup.extend_minhash_index`` for the incremental-crawl contract."""
    if index.kind != "lsh":
        raise ValueError(f"expected an lsh index, got {index.kind!r}")
    p = index.params
    planes = _planes_for(
        p["plane_kind"], p["dim"], p["bits"], p["tables"], p["seed"]
    )
    melted_new = _melt_tables(
        _normalize_and_bucket(
            new_rows, p["embedding_column"], p["id_column"], planes
        ),
        p["id_column"],
        p["tables"],
    )
    if materialize:
        melted_new = melted_new.localCheckpoint(eager=True)
    return AnnIndex("lsh", index.df.unionByName(melted_new), dict(p))


def dedup_against_lsh_index(
    index: AnnIndex,
    new_rows: DataFrame,
    threshold: float = 0.95,
    broadcast_batch: bool = False,
) -> DataFrame:
    """Drop rows of ``new_rows`` whose embedding has a same-bucket index
    neighbor with cosine >= ``threshold`` (any table) — incremental
    near-dup dedup for embeddings/images against a persisted index,
    mirroring ``dedup.dedup_against_index`` for text.

    Both sides carry unit vectors (``__nv__``), so the cosine is a pure
    Catalyst ``aggregate(zip_with(...))`` dot product on the joined
    rows — only same-bucket pairs are ever scored. ``broadcast_batch``
    as in ``query_minhash_index``: True broadcasts the (bucketed) batch
    so the corpus-scale index never shuffles.
    """
    if index.kind != "lsh":
        raise ValueError(f"expected an lsh index, got {index.kind!r}")
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    p = index.params
    id_column = p["id_column"]
    planes = _planes_for(
        p["plane_kind"], p["dim"], p["bits"], p["tables"], p["seed"]
    )
    q_melted = _melt_tables(
        _normalize_and_bucket(
            new_rows, p["embedding_column"], id_column, planes
        ),
        id_column,
        p["tables"],
    )
    left = q_melted.select(
        "__t__", "__bkt__",
        F.col(id_column).alias("__qid__"),
        F.col("__nv__").alias("__qv__"),
    )
    if broadcast_batch:
        left = F.broadcast(left)
    right = index.df.select(
        "__t__", "__bkt__",
        F.col(id_column).alias("__nid__"),
        F.col("__nv__").alias("__cv__"),
    )
    dot = F.aggregate(
        F.zip_with("__qv__", "__cv__", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    matched = (
        left.join(right, ["__t__", "__bkt__"])
        .filter(F.col("__qid__") != F.col("__nid__"))
        .withColumn("__cos__", dot)
        .filter(F.col("__cos__") >= threshold)
        .select(F.col("__qid__").alias(id_column))
        .distinct()
    )
    return new_rows.join(matched, id_column, "left_anti")


def quantize_embeddings(
    df: DataFrame, embedding_column: str, id_column: str
) -> DataFrame:
    """Symmetric int8 quantization: (id, codes array<tinyint>, scale).

    ``codes[i] = clamp(floor(x[i] * 127 / max|x| + 0.5), -127, 127)`` and
    ``scale = max|x| / 127`` (so ``x ~= codes * scale``). At 100 TB this
    cuts ANN shuffle bytes 4x; recall loss of int8 symmetric quantization
    on unit-norm embeddings is negligible for top-k search. floor(t+0.5)
    (not banker's rounding) keeps the arithmetic bit-identical across
    engines — the SQL oracle replays it exactly. Zero vectors quantize to
    all-zero codes with scale 0.
    """
    import numpy as np
    import pandas as pd

    id_field = df.schema[id_column]
    out_schema = T.StructType(
        [
            T.StructField(id_column, id_field.dataType, True),
            T.StructField("codes", T.ArrayType(T.ByteType()), True),
            T.StructField("scale", T.DoubleType(), True),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=[id_column, "codes", "scale"])
                continue
            M = np.stack(pdf[embedding_column].to_numpy()).astype(np.float64)
            maxabs = np.abs(M).max(axis=1)
            safe = np.where(maxabs == 0, 1.0, maxabs)
            codes = np.floor(M * 127.0 / safe[:, None] + 0.5)
            codes = np.clip(codes, -127, 127).astype(np.int8)
            codes[maxabs == 0] = 0
            yield pd.DataFrame(
                {
                    id_column: pdf[id_column],
                    "codes": list(codes),
                    "scale": maxabs / 127.0,
                }
            )

    return df.select(id_column, embedding_column).mapInPandas(kernel, out_schema)


def dequantize_embeddings(
    df: DataFrame, codes_column: str = "codes", scale_column: str = "scale"
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: adds ``embedding_deq``
    (array<double>, codes * scale) via a Catalyst transform."""
    return df.withColumn(
        "embedding_deq",
        F.transform(
            F.col(codes_column),
            lambda c: c.cast("double") * F.col(scale_column),
        ),
    )


def _smaller_id_dups(
    Q, qids, threshold: float, round_scores: bool, C=None, cids=None
):
    """The near-duplicate drop rule: the ids in ``qids`` whose unit
    vector (row of ``Q``) has cosine >= ``threshold`` with some row of
    ``C`` (default: ``Q`` itself) whose id is strictly smaller. Ids are
    compared by value, so neither side needs sorting, and equal ids
    never match. ``round_scores`` compares ``round(cosine, 6)``, the
    form a SQL oracle replays. Scores are computed ``_BRUTE_SLICE`` rows
    at a time into one reused buffer, so peak temp memory is
    ``_BRUTE_SLICE * |C| * 8`` bytes however large the block is."""
    import numpy as np

    if C is None:
        C, cids = Q, qids
    drop = np.zeros(len(qids), dtype=bool)
    Sbuf = np.empty((min(_BRUTE_SLICE, len(qids)), len(cids)))
    for s in range(0, len(qids), _BRUTE_SLICE):
        rows = Q[s : s + _BRUTE_SLICE]
        S = np.matmul(rows, C.T, out=Sbuf[: len(rows)])
        if round_scores:
            S = np.round(S, 6, out=S)
        smaller = cids[None, :] < qids[s : s + _BRUTE_SLICE, None]
        drop[s : s + _BRUTE_SLICE] = ((S >= threshold) & smaller).any(axis=1)
    return qids[drop]


def _dup_ids_schema(df: DataFrame, id_column: str) -> T.StructType:
    return T.StructType(
        [T.StructField(id_column, df.schema[id_column].dataType, True)]
    )


def _cosine_dups_brute(
    df: DataFrame,
    embedding_column: str,
    id_column: str,
    threshold: float,
    max_collect_rows: int = BRUTE_FORCE_MAX_ROWS,
) -> DataFrame:
    """Exact :func:`_smaller_id_dups` over the whole frame: the ids that
    have a smaller-id row with cosine >= threshold. Each partition is
    scored against the broadcast corpus."""
    import pandas as pd

    _guard_brute_force(df, max_collect_rows, "embedding_cosine_dedup(use_lsh=False)")
    ids, C = _collect_unit_rows(df, embedding_column, id_column)
    sc = df.sparkSession.sparkContext
    bc_ids, bc_C = sc.broadcast(ids), sc.broadcast(C)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    id_column: _smaller_id_dups(
                        _unit_rows(pdf[embedding_column]),
                        pdf[id_column].to_numpy(),
                        threshold,
                        False,
                        bc_C.value,
                        bc_ids.value,
                    )
                }
            )

    return spread_rows(df.select(id_column, embedding_column)).mapInPandas(
        kernel, _dup_ids_schema(df, id_column)
    )


#: Target mean rows per LSH bucket when bits is auto-derived. The
#: within-bucket pass is pairwise, so cost ~ n * target per table; a
#: fixed bits would make it O(n^2 / 2^bits) — quadratic at scale.
LSH_TARGET_BUCKET_ROWS = 128


def _auto_lsh_bits(n_rows: int, target: int = LSH_TARGET_BUCKET_ROWS) -> int:
    """bits ~ log2(n / target), clamped to [4, 24]: bucket occupancy
    stays ~constant as the corpus grows, keeping the bucketed pairwise
    pass linear in n instead of quadratic."""
    import math

    return max(4, min(24, int(math.ceil(math.log2(max(n_rows, 1) / max(target, 1))))
                      if n_rows > target else 4))


def _cosine_dups_lsh(
    df: DataFrame,
    embedding_column: str,
    id_column: str,
    threshold: float,
    bits: Optional[int] = None,
    tables: int = 3,
    dim: int = 64,
    seed: int = 7,
    plane_kind: str = "gauss",
    round_scores: bool = False,
) -> DataFrame:
    """:func:`_smaller_id_dups` within each (table, bucket): the ids
    with a same-bucket smaller-id row at cosine >= threshold. An id
    dropped in several tables appears once per table.

    ``bits=None`` (default) derives the bucket width from the corpus
    size (one cheap count job) so mean bucket occupancy stays around
    :data:`LSH_TARGET_BUCKET_ROWS` at any scale — the auto formula is
    plain integer math a SQL oracle recomputes from count(*).
    ``plane_kind="rademacher"`` + ``round_scores=True`` make the whole
    candidate generation SQL-replayable (deterministic LCG planes,
    round(cosine, 6) thresholding) — the graded-query configuration."""
    import numpy as np
    import pandas as pd

    index = build_lsh_index(
        df, embedding_column, id_column, bits=bits, tables=tables, dim=dim,
        seed=seed, plane_kind=plane_kind, materialize=False,
    )

    def dups_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = _smaller_id_dups(
            np.stack(pdf["__nv__"].to_numpy()),
            pdf[id_column].to_numpy(),
            threshold,
            round_scores,
        )
        return pd.DataFrame({id_column: ids})

    return index.df.groupBy("__t__", "__bkt__").applyInPandas(
        dups_fn, _dup_ids_schema(df, id_column)
    )


def _kmeans_centroids(X, nlist: int, iters: int = 8, seed: int = 42):
    """Driver-side Lloyd's k-means on a (sampled, normalized) matrix.

    The coarse quantizer for IVF: nlist is small (sqrt(|corpus|)-ish), so
    a few numpy iterations on a sample are enough; exactness of the
    quantizer only affects recall, not correctness of returned scores.
    """
    import numpy as np

    rnd = np.random.RandomState(seed)
    C = X[rnd.choice(len(X), size=min(nlist, len(X)), replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[j] = m / n
    return C


def _auto_nlist(n_rows: int) -> int:
    """nlist ~ sqrt(n) (the standard IVF sizing rule, e.g. FAISS's
    guideline), clamped to [8, 65536]: per-cell occupancy ~ sqrt(n), so
    the per-cell matmul grows as sqrt(n) instead of n/const — a fixed
    nlist makes the cell pass linear-per-query in corpus size."""
    import math

    return max(8, min(65536, int(round(math.sqrt(max(n_rows, 1))))))


def ivf_cosine_topk(
    corpus: DataFrame,
    embedding_column: str,
    id_column: str,
    k: int = 10,
    nlist: Optional[int] = 32,
    nprobe: int = 4,
    sample_size: int = 10_000,
    seed: int = 42,
    centroids=None,
    deterministic: bool = False,
    rank_k=None,
    include_rank: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine search.

    Scale path alongside ``lsh_cosine_topk``: a coarse quantizer (k-means
    centroids from a driver-side sample, broadcast) partitions the corpus
    into ``nlist`` cells; each query probes its ``nprobe`` nearest cells.
    Per cell, a cogrouped applyInPandas computes the (queries x members)
    block with one matmul — cost ~ |Q| * nprobe * |C| / nlist instead of
    |Q| * |C|. The cell join is a shuffled equi-join on the cell id; AQE
    handles skewed cells.

    ``nlist=None`` derives ``~sqrt(n)`` cells from a corpus count (the
    standard IVF sizing rule) so per-cell cost grows as sqrt(n); the
    default stays a fixed 32 for reproducible cell layouts (the oracle
    queries depend on it) — pass None at real scale.

    ``centroids`` (array-like, (nlist, dim)) overrides the k-means
    quantizer with fixed cell centers — used for deterministic,
    SQL-checkable runs; recall depends on centroid quality only, the
    search mechanics are identical.

    A one-shot search is an unmaterialized :func:`build_ivf_index`
    followed by one :func:`query_ivf_index` with the corpus as the
    query set.
    """
    index = build_ivf_index(
        corpus, embedding_column, id_column, nlist=nlist,
        sample_size=sample_size, seed=seed, centroids=centroids,
        materialize=False,
    )
    return query_ivf_index(
        index, corpus, k=k, nprobe=nprobe, deterministic=deterministic,
        rank_k=rank_k, include_rank=include_rank,
    )


def _ivf_centroids(
    corpus: DataFrame,
    embedding_column: str,
    nlist: int,
    sample_size: int,
    seed: int,
    centroids,
):
    """Unit-normalized centroid matrix: fixed centers if given, else
    k-means over a true random sample of the corpus."""
    import numpy as np

    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        return cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
        )
    # A true random sample, not limit(): limit() takes whatever
    # partition answers first, and a skewed sample makes bad centroids.
    n = corpus.count()
    frac = min(1.0, (1.2 * sample_size) / max(n, 1))
    sample = (
        corpus.select(embedding_column)
        .sample(fraction=frac, seed=seed)
        .limit(sample_size)
        .collect()
    )
    X = _unit_rows([r[0] for r in sample])
    return _kmeans_centroids(X, nlist, seed=seed)


def _ivf_assign(
    df: DataFrame,
    embedding_column: str,
    id_column: str,
    bc_C,
    nprobe: int,
) -> DataFrame:
    """One Arrow pass: (id, __nv__ unit vector, __cell__) — each row
    repeated for its ``nprobe`` nearest cells, probe order deterministic
    (rounded score, stable sort, lowest centroid index on ties)."""
    import numpy as np
    import pandas as pd

    id_field = df.schema[id_column]
    assigned_schema = T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType, True),
            T.StructField("__nv__", T.ArrayType(T.DoubleType()), True),
            T.StructField("__cell__", T.IntegerType(), True),
        ]
    )

    def kernel(batches):
        cents_m = bc_C.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=[id_field.name, "__nv__", "__cell__"])
                continue
            M = _unit_rows(pdf[embedding_column])
            S = M @ cents_m.T  # (rows, nlist)
            p = min(nprobe, S.shape[1])
            # Top-p cells by (rounded score desc, centroid index asc)
            # WITHOUT a full row argsort (measured 30-500x slower than
            # the selections below at nlist ~300). p=1 is argmax (first
            # maximal index == lowest index on rounded ties); p>1 uses
            # the same composite key as _topk_indices — rounded scores
            # are multiples of 1e-6 and the index perturbation tops out
            # at nlist * 2e-13, strictly inside the half-gap for nlist
            # up to ~2e6 (exact stable-argsort fallback above that).
            Sr = np.round(S, 6)
            if p == 1:
                cells = np.argmax(Sr, axis=1)[:, None]
            elif S.shape[1] > 2_000_000:
                cells = np.argsort(-Sr, axis=1, kind="stable")[:, :p]
            else:
                comp = Sr - np.arange(S.shape[1]) * 2e-13
                part = np.argpartition(-comp, kth=p - 1, axis=1)[:, :p]
                vals = -np.take_along_axis(comp, part, axis=1)
                cells = np.take_along_axis(
                    part, np.argsort(vals, axis=1, kind="stable"), axis=1
                )
            yield pd.DataFrame(
                {
                    id_field.name: np.repeat(pdf[id_column].to_numpy(), p),
                    "__nv__": [v for v in M for _ in range(p)],
                    "__cell__": cells.ravel().astype(np.int32),
                }
            )

    return spread_rows(df.select(id_column, embedding_column)).mapInPandas(
        kernel, assigned_schema
    )


def build_ivf_index(
    corpus: DataFrame,
    embedding_column: str,
    id_column: str,
    nlist: Optional[int] = 32,
    sample_size: int = 10_000,
    seed: int = 42,
    centroids=None,
    materialize: bool = True,
) -> AnnIndex:
    """Build an IVF index: train (or accept) the coarse quantizer, assign
    every corpus row to its nearest cell in one Arrow pass, and
    materialize the (id, vector, cell) DataFrame so repeated
    :func:`query_ivf_index` calls never re-assign the corpus. The
    centroid matrix rides in ``params`` (it is nlist x dim floats —
    tiny), so a saved index reloads fully self-contained.
    ``nlist=None`` sizes the quantizer ~sqrt(n) (see
    :func:`ivf_cosine_topk`)."""
    if nlist is None:
        nlist = _auto_nlist(corpus.count())
    cents = _ivf_centroids(
        corpus, embedding_column, nlist, sample_size, seed, centroids
    )
    bc_C = corpus.sparkSession.sparkContext.broadcast(cents)
    cells = _ivf_assign(
        corpus.select(id_column, embedding_column),
        embedding_column,
        id_column,
        bc_C,
        1,
    )
    if materialize:
        cells = cells.localCheckpoint(eager=True)
    params = {
        "embedding_column": embedding_column,
        "id_column": id_column,
        "centroids": [[float(v) for v in row] for row in cents],
    }
    return AnnIndex("ivf", cells, params)


def query_ivf_index(
    index: AnnIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    deterministic: bool = False,
    rank_k=None,
    include_rank: bool = True,
) -> DataFrame:
    """Top-k cosine search against a prebuilt IVF index: assign only the
    QUERY rows to their ``nprobe`` nearest cells (broadcast centroids
    from the index params), cogroup with the stored cells, score each
    block with one matmul, rank. The corpus side is read as-is.
    ``include_rank=False``: skip the rank window for callers that
    re-rank the candidates themselves (see :func:`lsh_cosine_topk`)."""
    import numpy as np

    if index.kind != "ivf":
        raise ValueError(f"expected an ivf index, got {index.kind!r}")
    p = index.params
    id_column = p["id_column"]
    cents = np.asarray(p["centroids"], dtype=np.float64)
    bc_C = queries.sparkSession.sparkContext.broadcast(cents)
    probes = _ivf_assign(
        queries.select(id_column, p["embedding_column"]),
        p["embedding_column"],
        id_column,
        bc_C,
        nprobe,
    )
    id_field = queries.schema[id_column]
    fn = _block_topk_fn(id_column, k, deterministic)
    cand = (
        probes.groupBy("__cell__")
        .cogroup(index.df.groupBy("__cell__"))
        .applyInPandas(fn, _topk_out_schema(id_field))
    )
    # No (query, neighbor) dedup shuffle: an index row lives in exactly
    # ONE cell and a query's probed cells are distinct, so each pair is
    # produced at most once — unlike the multi-table LSH paths, which
    # must merge per-table candidates with a max-cosine groupBy.
    return cand if not include_rank else _rank_topk(cand, k, rank_k)


# --- IVF-PQ: product-quantized inverted file ------------------------------
#
# The memory-bounded ANN shape for 100 TB corpora: the index stores one
# coarse cell id plus m sub-codes per vector (m bytes at nbits=8) instead
# of the dim x 4-byte float vector itself — a 64-dim float corpus shrinks
# ~32x, so a billion-vector index fits in cluster memory / a broadcastable
# dimension table. Queries score candidates with asymmetric distance
# computation (ADC): per query, an (m x 2^nbits) lookup table of
# query-subvector x codebook-entry dot products; a candidate's score is
# the sum of m table gathers — no corpus floats are ever read at query
# time. Beyond the reference (its engine has no vector search at all);
# the algorithm is Jegou et al., "Product Quantization for Nearest
# Neighbor Search" (TPAMI 2011), re-expressed as Spark primitives.


def train_pq_codebooks(
    corpus: DataFrame,
    embedding_column: str,
    m: int = 8,
    nbits: int = 8,
    sample_size: int = 10_000,
    seed: int = 42,
    codebooks=None,
):
    """(m, 2**nbits, dim/m) product-quantization codebooks: per subspace,
    Lloyd's k-means in plain L2 over the normalized sample's subvectors.
    Driver-side on a true random sample (same sampling contract as
    :func:`_ivf_centroids`); pass ``codebooks`` to pin fixed entries for
    deterministic, SQL-checkable runs."""
    import numpy as np

    if codebooks is not None:
        return np.asarray(codebooks, dtype=np.float64)
    n = corpus.count()
    frac = min(1.0, (1.2 * sample_size) / max(n, 1))
    sample = (
        corpus.select(embedding_column)
        .sample(fraction=frac, seed=seed)
        .limit(sample_size)
        .collect()
    )
    X = _unit_rows([r[0] for r in sample])
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    ksz = 1 << nbits
    rnd = np.random.RandomState(seed)
    cbs = []
    for j in range(m):
        Xj = np.ascontiguousarray(X[:, j * sub : (j + 1) * sub])
        C = Xj[rnd.choice(len(Xj), size=min(ksz, len(Xj)), replace=False)].copy()
        for _ in range(8):
            d = (C**2).sum(axis=1)[None, :] - 2.0 * (Xj @ C.T)
            assign = np.argmin(d, axis=1)
            for c in range(len(C)):
                members = Xj[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        if len(C) < ksz:  # degenerate tiny sample: pad unused entries
            C = np.vstack([C, np.zeros((ksz - len(C), sub))])
        cbs.append(C)
    return np.stack(cbs)


def _pq_encode_assign(
    df: DataFrame,
    embedding_column: str,
    id_column: str,
    bc_C,
    bc_CB,
) -> DataFrame:
    """One Arrow pass: (id, __cell__, __code__ array<int>) — nearest
    coarse cell (round-6 + lowest-index ties, matching
    :func:`_ivf_assign`) and per-subspace argmin-L2 codes on the rounded
    distance surrogate ``||cb||^2 - 2 q.cb`` (the row's own norm term is
    constant per argmin, so dropping it changes nothing and keeps the
    SQL replay to one inner product per (row, entry))."""
    import numpy as np
    import pandas as pd

    id_field = df.schema[id_column]
    schema = T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType, True),
            T.StructField("__cell__", T.IntegerType(), True),
            T.StructField("__code__", T.ArrayType(T.IntegerType()), True),
        ]
    )

    def kernel(batches):
        cents = bc_C.value
        CB = bc_CB.value  # (m, ksz, sub)
        m, _, sub = CB.shape
        cbn = (CB**2).sum(axis=2)  # (m, ksz)
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=[id_field.name, "__cell__", "__code__"])
                continue
            M = _unit_rows(pdf[embedding_column])
            S = np.round(M @ cents.T, 6)
            # lowest centroid index wins rounded ties (argmax returns the
            # first maximal entry).
            cell = np.argmax(S, axis=1).astype(np.int32)
            codes = np.empty((len(M), m), dtype=np.int32)
            for j in range(m):
                D = cbn[j][None, :] - 2.0 * (M[:, j * sub : (j + 1) * sub] @ CB[j].T)
                codes[:, j] = np.argmin(np.round(D, 6), axis=1)
            yield pd.DataFrame(
                {
                    id_field.name: pdf[id_column].to_numpy(),
                    "__cell__": cell,
                    "__code__": list(codes),
                }
            )

    return spread_rows(df.select(id_column, embedding_column)).mapInPandas(
        kernel, schema
    )


def build_ivfpq_index(
    corpus: DataFrame,
    embedding_column: str,
    id_column: str,
    nlist: Optional[int] = 32,
    m: int = 8,
    nbits: int = 8,
    sample_size: int = 10_000,
    seed: int = 42,
    centroids=None,
    codebooks=None,
    materialize: bool = True,
) -> AnnIndex:
    """Build an IVF-PQ index: coarse quantizer + per-subspace codebooks
    (both trained on a driver-side sample unless pinned), then ONE Arrow
    pass over the corpus emitting (id, cell, m sub-codes). The stored
    table carries NO embedding floats — m small ints per row — which is
    the point: at 10^9 vectors x 64 dims the float corpus is ~256 GB,
    the PQ codes ~8 GB (m=8), broadcastable shard-by-shard. Centroids
    and codebooks ride in ``params`` (m x 2^nbits x dim/m floats — KBs),
    so ``save``/``load`` round-trips fully self-contained."""
    if nlist is None:
        nlist = _auto_nlist(corpus.count())
    cents = _ivf_centroids(
        corpus, embedding_column, nlist, sample_size, seed, centroids
    )
    CB = train_pq_codebooks(
        corpus, embedding_column, m, nbits, sample_size, seed, codebooks
    )
    sc = corpus.sparkSession.sparkContext
    bc_C = sc.broadcast(cents)
    bc_CB = sc.broadcast(CB)
    coded = _pq_encode_assign(
        corpus.select(id_column, embedding_column),
        embedding_column,
        id_column,
        bc_C,
        bc_CB,
    )
    if materialize:
        coded = coded.localCheckpoint(eager=True)
    params = {
        "embedding_column": embedding_column,
        "id_column": id_column,
        "centroids": [[float(v) for v in row] for row in cents],
        "codebooks": [
            [[float(v) for v in e] for e in book] for book in CB
        ],
    }
    return AnnIndex("ivfpq", coded, params)


def build_ivf_family(
    corpus: DataFrame,
    embedding_column: str,
    id_column: str,
    nlist: Optional[int] = 32,
    sample_size: int = 10_000,
    seed: int = 42,
    centroids=None,
    codebooks_list=(),
    materialize: bool = True,
):
    """One corpus pass for an IVF index plus any number of IVF-PQ
    siblings that share its coarse quantizer: returns
    ``(ivf_index, [ivfpq_index, ...])``, one per entry of
    ``codebooks_list`` (pinned codebook arrays, as accepted by
    :func:`build_ivfpq_index`'s ``codebooks=``).

    ``build_ivf_index`` + N x ``build_ivfpq_index`` with the same
    centroids each re-scan the corpus and re-derive the identical
    nearest-cell assignment (argmax of the round-6 cosine, lowest index
    on rounded ties). This builder computes the assignment once and
    every codebook's argmin-L2 codes in the same Arrow kernel,
    checkpoints the combined frame once, and hands each index a
    column-pruned projection — row-for-row the frames the separate
    builders emit (locked by tests/test_ann_index.py). At corpus
    scale this is 1 scan instead of 1+N.
    """
    import numpy as np
    import pandas as pd

    if nlist is None:
        nlist = _auto_nlist(corpus.count())
    cents = _ivf_centroids(
        corpus, embedding_column, nlist, sample_size, seed, centroids
    )
    CBs = [np.asarray(cb, dtype=np.float64) for cb in codebooks_list]
    sc = corpus.sparkSession.sparkContext
    bc_C = sc.broadcast(cents)
    bc_CBs = sc.broadcast(CBs)
    id_field = corpus.schema[id_column]
    code_cols = [f"__code{i}__" for i in range(len(CBs))]
    schema = T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType, True),
            T.StructField("__nv__", T.ArrayType(T.DoubleType()), True),
            T.StructField("__cell__", T.IntegerType(), True),
        ]
        + [
            T.StructField(c, T.ArrayType(T.IntegerType()), True)
            for c in code_cols
        ]
    )
    col_names = [f.name for f in schema.fields]

    def kernel(batches):
        cents_m = bc_C.value
        books = bc_CBs.value
        cbns = [(CB**2).sum(axis=2) for CB in books]  # (m, ksz) each
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(columns=col_names)
                continue
            M = _unit_rows(pdf[embedding_column])
            S = np.round(M @ cents_m.T, 6)
            # first maximal entry == _ivf_assign's stable argsort top-1
            cell = np.argmax(S, axis=1).astype(np.int32)
            out = {
                id_field.name: pdf[id_column].to_numpy(),
                "__nv__": list(M),
                "__cell__": cell,
            }
            for c, CB, cbn in zip(code_cols, books, cbns):
                m, _, sub = CB.shape
                codes = np.empty((len(M), m), dtype=np.int32)
                for j in range(m):
                    D = cbn[j][None, :] - 2.0 * (
                        M[:, j * sub : (j + 1) * sub] @ CB[j].T
                    )
                    codes[:, j] = np.argmin(np.round(D, 6), axis=1)
                out[c] = list(codes)
            yield pd.DataFrame(out)

    combined = spread_rows(
        corpus.select(id_column, embedding_column)
    ).mapInPandas(kernel, schema)
    if materialize:
        combined = combined.localCheckpoint(eager=True)
    cent_lists = [[float(v) for v in row] for row in cents]
    ivf = AnnIndex(
        "ivf",
        combined.select(id_field.name, "__nv__", "__cell__"),
        {
            "embedding_column": embedding_column,
            "id_column": id_column,
            "centroids": cent_lists,
        },
    )
    pqs = [
        AnnIndex(
            "ivfpq",
            combined.select(
                id_field.name,
                "__cell__",
                F.col(c).alias("__code__"),
            ),
            {
                "embedding_column": embedding_column,
                "id_column": id_column,
                "centroids": cent_lists,
                "codebooks": [
                    [[float(v) for v in e] for e in book] for book in CB
                ],
            },
        )
        for c, CB in zip(code_cols, CBs)
    ]
    return ivf, pqs


def _pq_block_topk_fn(id_column: str, k: int, bc_CB, deterministic: bool):
    """Cogrouped (queries x corpus-cell) ADC top-k: per query slice of
    ``_BRUTE_SLICE`` rows, one (slice x 2^nbits) lookup table per
    subspace, scored with m gathers — the corpus side contributes only
    int codes — then :func:`_topk_rows`. Slicing bounds the (slice x
    |cell|) score matrix the same way as :func:`_block_topk_fn`."""
    import numpy as np
    import pandas as pd

    def block_topk(key, qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "cosine"])
        CB = bc_CB.value
        m, _, sub = CB.shape
        Qa = np.stack(qpdf["__nv__"].to_numpy())
        Cd = np.stack(cpdf["__code__"].to_numpy()).astype(np.int64)
        qids_a = qpdf[id_column].to_numpy()
        cids = cpdf[id_column].to_numpy()
        nrow = min(_BRUTE_SLICE, len(qids_a))
        Sbuf = np.empty((nrow, len(Cd)))
        Tbuf = np.empty((nrow, len(Cd)))
        outs = []
        for s in range(0, len(qids_a), _BRUTE_SLICE):
            Q = Qa[s : s + _BRUTE_SLICE]
            S = Sbuf[: len(Q)]
            S.fill(0.0)
            for j in range(m):
                lut = Q[:, j * sub : (j + 1) * sub] @ CB[j].T  # (slice, ksz)
                S += np.take(lut, Cd[:, j], axis=1, out=Tbuf[: len(Q)])
            outs.append(
                _topk_rows(
                    S, qids_a[s : s + _BRUTE_SLICE], cids, k, deterministic
                )
            )
        return pd.concat(outs, ignore_index=True)

    return block_topk


def query_ivfpq_index(
    index: AnnIndex,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    deterministic: bool = False,
    rank_k=None,
    rerank: "Optional[int]" = None,
    corpus: "Optional[DataFrame]" = None,
    include_rank: bool = True,
) -> DataFrame:
    """Top-k ADC search against a prebuilt IVF-PQ index: assign only the
    QUERY rows to their ``nprobe`` nearest cells (broadcast centroids),
    cogroup with the stored code table, score via per-query lookup
    tables, rank. The returned ``cosine`` column is the ADC estimate
    ``q-hat . reconstruction(codes)`` of the true cosine (exact rank
    cross-checks live in tests; the estimate's bias is the quantization
    error of the codebooks).

    ``rerank`` (with ``corpus``): EXACT REFINEMENT — the production
    IVF-PQ shape (FAISS ``IndexRefine``): ADC selects a per-query
    shortlist of ``rerank`` candidates (rounded-6 score, id tie-break,
    so the cut is engine-replayable), then the true cosine is computed
    against the raw ``corpus`` embeddings for shortlist rows only and
    the top-``k`` is exact within the shortlist. Cost: the ADC scan
    stays code-table-sized; the refinement touches O(|queries| x
    rerank) corpus rows via one join (AQE broadcasts the shortlist
    side when small). ``cosine`` is then the TRUE cosine. This is what
    makes PQ useful at production scale: codes shrink the scan 32-64x,
    exactness comes back at the end for a shortlist-sized price."""
    import numpy as np

    if index.kind != "ivfpq":
        raise ValueError(f"expected an ivfpq index, got {index.kind!r}")
    if rerank is not None:
        if corpus is None:
            raise ValueError("rerank requires the corpus DataFrame")
        if rerank < k:
            raise ValueError("rerank must be >= k")
    p = index.params
    id_column = p["id_column"]
    sc = queries.sparkSession.sparkContext
    bc_C = sc.broadcast(np.asarray(p["centroids"], dtype=np.float64))
    bc_CB = sc.broadcast(np.asarray(p["codebooks"], dtype=np.float64))
    probes = _ivf_assign(
        queries.select(id_column, p["embedding_column"]),
        p["embedding_column"],
        id_column,
        bc_C,
        nprobe,
    )
    id_field = queries.schema[id_column]
    adc_k = k if rerank is None else rerank
    fn = _pq_block_topk_fn(id_column, adc_k, bc_CB, deterministic)
    cand = (
        probes.groupBy("__cell__")
        .cogroup(index.df.groupBy("__cell__"))
        .applyInPandas(fn, _topk_out_schema(id_field))
    )
    # No (query, neighbor) dedup shuffle: an index row lives in exactly
    # ONE cell and a query's probed cells are distinct, so each pair is
    # produced at most once — unlike the multi-table LSH paths, which
    # must merge per-table candidates with a max-cosine groupBy.
    if rerank is None:
        return cand if not include_rank else _rank_topk(cand, k, rank_k)
    # ---- exact refinement ---------------------------------------------
    # Shortlist cut on ROUNDED ADC (6 dp) + id tie-break: raw-double
    # ordering at the rerank boundary would not replay across engines.
    wcut = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id")
    )
    shortlist = (
        cand.withColumn("__r__", F.row_number().over(wcut))
        .filter(F.col("__r__") <= rerank)
        .select("query_id", "neighbor_id")
    )
    ecol = p["embedding_column"]

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    nvec = F.col(ecol).cast("array<double>")
    sides = corpus.select(
        F.col(id_column).alias("__sid__"),
        nvec.alias("__v__"),
        F.sqrt(_dot(nvec, nvec)).alias("__n__"),
    )
    qsides = queries.select(
        F.col(id_column).alias("__sid__"),
        nvec.alias("__v__"),
        F.sqrt(_dot(nvec, nvec)).alias("__n__"),
    )
    exact = (
        shortlist.join(
            qsides.withColumnRenamed("__sid__", "query_id")
            .withColumnRenamed("__v__", "__qv__")
            .withColumnRenamed("__n__", "__qn__"),
            "query_id",
        )
        .join(
            sides.withColumnRenamed("__sid__", "neighbor_id")
            .withColumnRenamed("__v__", "__cv__")
            .withColumnRenamed("__n__", "__cn__"),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("__qv__"), F.col("__cv__"))
                / (F.col("__qn__") * F.col("__cn__"))
            ).alias("cosine"),
        )
    )
    return exact if not include_rank else _rank_topk(exact, k, rank_k)
