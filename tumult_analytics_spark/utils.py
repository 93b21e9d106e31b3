"""Shared Spark helpers; chief among them the one null-safe join builder.

The reference joins with ``join_on_nulls=True`` everywhere
(`_base_transformation_visitor.py:877, 899, 968, 985`), i.e. null join keys
match each other. :func:`nullsafe_join` is the only place in the package
that builds that condition: one SQL expression of ``<=>`` (EqualNullSafe)
over every key column. ``<=>`` still qualifies as a hash-join key, so
broadcast/sort-merge strategies and AQE all still apply — no performance
cliff vs plain ``=``. KeySet join/subtract, the compiler's keyset filter
and attach, and the public and private table joins all go through it.

:func:`local_frame` is likewise the only place that turns driver-side rows
into a DataFrame: every literal keyset, released answer and small driver
table is an Arrow-backed local relation, so scanning it starts no Python
worker.
"""

from __future__ import annotations

import contextlib as _contextlib
import os
from typing import Any, Iterable, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def nullsafe_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    broadcast: bool = False,
) -> DataFrame:
    """Join ``left`` and ``right`` on ``on`` with null-safe equality.

    ``how`` is one of ``inner``, ``left``, ``left_semi``, ``left_anti``;
    ``broadcast`` hints the right side. Output columns: the left columns
    in their own order (key values taken from the left side), then, for
    ``inner``/``left``, the right non-key columns. Non-key columns present
    on both sides come out as ``{name}_left`` / ``{name}_right`` (reference
    JoinPublic semantics, _query_expr.py:1000-1012).
    """
    keys = list(on)
    if not keys:
        raise ValueError("join columns must be non-empty")
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(f"unsupported join type: {how!r}")
    # Right keys get temporary names so the condition is unambiguous even
    # when both sides descend from the same DataFrame.
    tmp = {c: f"__join_r_{c}" for c in keys}
    shared = (
        set()
        if how in ("left_semi", "left_anti")
        else (set(left.columns) & set(right.columns)) - set(keys)
    )
    if shared:
        left = left.withColumnsRenamed({c: f"{c}_left" for c in shared})
    r = right.withColumnsRenamed({**tmp, **{c: f"{c}_right" for c in shared}})
    if broadcast:
        r = F.broadcast(r)
    quote = lambda c: "`" + c.replace("`", "``") + "`"  # noqa: E731
    cond = " AND ".join(f"{quote(c)} <=> {quote(tmp[c])}" for c in keys)
    return left.join(r, on=F.expr(cond), how=how).drop(*tmp.values())


def arrow_columns(rows: Sequence[Sequence[Any]], schema: T.StructType) -> list:
    """Driver-side ``rows`` as one Arrow array per field of ``schema``,
    typed with PySpark's own Spark-to-Arrow map (naive datetimes read as
    UTC); no pandas round trip."""
    from pyspark.sql.pandas.types import to_arrow_type
    import pyarrow as pa

    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    return [
        pa.array(col, type=to_arrow_type(f.dataType))
        for col, f in zip(columns, schema.fields)
    ]


def local_frame(
    spark: SparkSession,
    rows: Union[Iterable[Sequence[Any]], "pa.Table"],  # noqa: F821
    schema: Union[T.StructType, str],
) -> DataFrame:
    """Driver-side ``rows`` (tuples, or a ``pyarrow.Table``) as a DataFrame
    of ``schema`` (a ``StructType`` or a DDL string) backed by an Arrow
    local relation.

    ``spark.createDataFrame(list_of_tuples, schema)`` builds a
    ``LogicalRDD`` over ``sc.parallelize(...)``, and PySpark re-serializes
    that RDD through an identity ``map`` — a PythonRDD — so every scan of
    the frame starts Python workers (0.4–0.5 s to collect 10 rows on a
    4-core host). From an Arrow table Spark builds a ``LocalRelation``
    instead (0.01 s for the same rows): the JVM scans it, Catalyst folds
    projections and filters into it, and it broadcasts without a job. Its
    rows are held in the driver heap and Java-serialized into every task
    that scans it. (Above ``spark.sql.execution.arrow.localRelationThreshold``
    bytes of Arrow data, 48 MB by default, Spark keeps the batches in a
    JVM RDD instead; that needs no Python worker either.) A schema with
    no columns (the one-row empty keyset)
    becomes a ``range`` projected to no columns, since an Arrow table
    without columns has no rows.
    """
    import pyarrow as pa

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if not isinstance(rows, pa.Table):
        rows = list(rows)
        if not schema.fields:
            return spark.range(len(rows)).select()
        rows = pa.Table.from_arrays(arrow_columns(rows, schema), names=schema.names)
    return spark.createDataFrame(rows, schema)


#: Bytes of input an iterative operator (k-means, GD, BPE) collects to the
#: driver and iterates over there. Their state is kilobytes, so below this
#: each step is a numpy pass over the collected table instead of a Spark
#: job; above it each step is one ``mapInArrow`` pass (:func:`sum_partials`).
#: Measured on a 4-core ``local[4]`` session (2 GB driver heap), the driver
#: loop won for k-means up to 95 MB of ids and vectors and for GD up to
#: 78 MB of features, but BPE's pure-Python pair counts tied the
#: ``mapInArrow`` path at 15 MB of histogram (2.5e5 words at 64 bytes a
#: word) and lost above it, so the cap sits below that crossover.
DRIVER_LOOP_BYTES = 8 << 20


def collect_below_cap(df: DataFrame, row_bytes: int) -> "Optional[pa.Table]":  # noqa: F821
    """``df`` as one Arrow table when it has at most ``max_rows =
    DRIVER_LOOP_BYTES // row_bytes`` rows (``row_bytes`` is the caller's
    estimate of a row's size) and the table takes at most
    ``DRIVER_LOOP_BYTES``, else ``None``; either way one
    ``limit(max_rows + 1).toArrow()`` probe."""
    max_rows = DRIVER_LOOP_BYTES // max(1, int(row_bytes))
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows <= max_rows and table.nbytes <= DRIVER_LOOP_BYTES:
        return table
    return None


def sum_partials(df: DataFrame, kernel, size: int) -> "np.ndarray":  # noqa: F821
    """The sum of ``kernel(batch)`` (an Arrow record batch -> a float64
    vector of ``size`` partial sums) over every batch of ``df``: one
    ``mapInArrow`` pass in which each partition emits the sum of its
    batches, and the driver adds those up."""
    import numpy as np
    import pyarrow as pa

    def run(batches):
        acc = np.zeros(size)
        for batch in batches:
            acc += kernel(batch)
        yield pa.RecordBatch.from_arrays(
            [pa.array([acc.tolist()], pa.list_(pa.float64()))], ["p"]
        )

    parts = df.mapInArrow(run, "p array<double>").toArrow().column("p")
    flat = parts.combine_chunks().flatten().to_numpy()
    return flat.reshape(-1, size).sum(axis=0)


def arrow_matrix(col, dim: int) -> "np.ndarray":  # noqa: F821
    """An Arrow ``list<number>`` column (array or chunked array) of
    ``dim``-element rows as an ``n x dim`` float64 matrix."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.asarray(flat, dtype=np.float64).reshape(len(col), dim)


def event_time(df: DataFrame, col: str = "ts") -> "F.Column":
    """``TimestampType`` column from any physical encoding of an event
    timestamp column:

    - BIGINT nanoseconds — TIMESTAMP(NANOS) parquet read under
      ``spark.sql.legacy.parquet.nanosAsLong`` (integer-DIV to
      microseconds, matching DuckDB's truncating ns->us conversion);
    - TIMESTAMP_NTZ — timestamp[us] parquet under Spark 4's NTZ
      inference (cast; requires ``spark.sql.session.timeZone=UTC`` for
      epoch parity with engines that treat NTZ micros as raw epoch);
    - TIMESTAMP — used as-is.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return F.timestamp_micros(F.expr(f"`{col}` DIV 1000"))
    return F.col(col).cast("timestamp")


def cleanup() -> None:
    """Release cached DataFrames held by this engine's sessions/keysets
    (reference utils.py:20-26 analogue). Call before ``spark.stop()``.

    This engine materializes no temp tables in the warehouse — views are
    held as (optionally persisted) DataFrames — so cleanup only needs to
    clear the Spark cache.
    """
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.catalog.clearCache()


def remove_all_temp_tables() -> None:
    """Reference utils.py:28-36 analogue: drop any temp views registered
    in the current Spark session's catalog."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    for table in spark.catalog.listTables():
        if table.isTemporary:
            spark.catalog.dropTempView(table.name)


def check_installation() -> None:
    """Smoke-check the install: run one tiny end-to-end DP query
    (reference utils.py:38-170 analogue). Raises on failure."""
    from pyspark.sql import SparkSession

    from . import AddOneRow, PureDPBudget, QueryBuilder, Session

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[2]"
    ).getOrCreate()
    df = local_frame(spark, [(i,) for i in range(10)], "x long")
    s = Session.from_dataframe(PureDPBudget(1), "check", df, AddOneRow())
    out = s.evaluate(QueryBuilder("check").count(), PureDPBudget(1))
    assert out.count() == 1


def spread_rows(
    df: DataFrame, min_files: int = 8, target: int = None
) -> DataFrame:
    """Round-robin repartition when the input is a few-file scan.

    Python-kernel stages (row-dict UDFs, per-row hashing kernels) cost
    enough per row that a single-file parquet scan serializes the whole
    stage on a few cores; the one-off shuffle pays for itself. At real
    scale the scan already has >= cores files and this is a no-op. The
    guard reads ``inputFiles()`` (a walk of the analyzed plan), NOT
    ``df.rdd`` — converting to an RDD would force a physical plan per
    compile and pin the pre-AQE plan. Non-file-rooted plans (anything
    downstream of a shuffle) are already parallel and are left alone.
    """
    if target is None:
        target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and len(files) < min(target, min_files):
        return df.repartition(target)
    return df


def zorder_key(columns: Sequence["F.Column"], bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of ``len(columns)`` non-negative
    integer columns into one bigint sort key: bit ``b`` of column ``c``
    lands at position ``b * k + c``. Sorting / range-partitioning by
    this key before writing gives multi-dimensional data locality, so
    min/max footer stats prune scans on EVERY interleaved dimension —
    the lakehouse OPTIMIZE ZORDER primitive, as a plain column
    expression.

    Callers normalize each column into ``[0, 2^bits)`` first (modulo,
    binning, or rank); ``k * bits`` must be <= 63 so the key stays a
    positive int64. Pure Catalyst shift/mask arithmetic — codegen, no
    shuffle, exactly replayable in ANSI SQL.
    """
    cols = list(columns)
    k = len(cols)
    if k < 1:
        raise ValueError("need at least one column")
    if k * bits > 63:
        raise ValueError(f"k*bits = {k * bits} exceeds 63 (int64 sign bit)")
    key = F.lit(0).cast("long")
    for b in range(bits):
        for c, col in enumerate(cols):
            bit = F.shiftright(col.cast("long"), b).bitwiseAND(F.lit(1))
            key = key + (bit * F.lit(1 << (b * k + c))).cast("long")
    return key


def top_k(
    df: DataFrame,
    order_cols: Sequence,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Distributed global top-``k`` with a dense 1..k rank column — THE
    sanctioned way to rank "the k best rows of a big table".

    ``orderBy(...).limit(k)`` compiles to Spark's TakeOrderedAndProject:
    every partition keeps a k-row heap, the driver merges #partitions
    heaps — no global sort, no shuffle of the table, no single task
    seeing more than its own partition. The ``row_number`` window that
    assigns the rank then runs over only the k surviving rows, so the
    "un-partitioned window" it contains is O(k), not O(table).

    This utility exists because three operators independently hand-rolled
    global ranking and two of them did it with
    ``row_number().over(Window.orderBy(...))`` straight on the full
    table — which shuffles EVERY row to one task (the classic Spark
    scale-killer; at crawl scale it is the job). Route all global
    ranking through here; ``tests/test_plan_shape.py`` locks the
    TakeOrderedAndProject shape for each call site.

    ``order_cols``: sequence of Column expressions (include ``.desc()`` /
    ``.asc()`` and tie-breaks — ties MUST be broken for the rank to be
    deterministic across runs and engines).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    cols = list(order_cols)
    top = df.orderBy(*cols).limit(k)
    w = Window.orderBy(*cols)
    return top.withColumn(rank_col, F.row_number().over(w))


def observe_stage(df: DataFrame, name: str, **metrics) -> tuple:
    """Attach free pipeline metrics to a DataFrame stage via Spark's
    Observation API: ``metrics`` maps metric name -> aggregate Column
    (default: a plain row count). Returns ``(df, observation)``; after
    ANY action on the returned frame, ``observation.get`` yields the
    metric values — measured during the action itself, with no second
    pass over the data.

    This is how a 100 TB pipeline reports per-stage row counts and
    filter drop rates without count() re-scans: the metrics ride the
    same job. One observation per stage name per query.
    """
    from pyspark.sql import Observation

    if not metrics:
        metrics = {"n_rows": F.count(F.lit(1))}
    obs = Observation(name)
    out = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    return out, obs


def skew_report(df: DataFrame, column: str, top_n: int = 10) -> DataFrame:
    """Join/groupBy skew diagnostic for a key column: the ``top_n``
    heaviest keys with their row counts and share of the table — the
    numbers you check BEFORE deciding to salt a join or enable AQE skew
    handling (a top key holding >1/partitions of the rows will straggle
    its task). One aggregation + a TakeOrderedAndProject (no global
    sort) + a broadcast of the 1-row total.

    Output: (key string-cast, n_rows, share, rank), heaviest first.
    """
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    counts = df.groupBy(
        F.col(column).cast("string").alias("key")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__t__"))
    top = top_k(counts, [F.desc("n_rows"), F.asc("key")], top_n, "rank")
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn(
            "share",
            F.round(
                F.col("n_rows").cast("double") / F.col("__t__"), 6
            ),
        )
        .select("key", "n_rows", "share", "rank")
    )


def input_bytes(spark, *paths: str) -> int:
    """Total on-disk bytes under each path, via the Hadoop FileSystem
    API — so the same call works for local files, HDFS, and object
    stores (anything the session's Hadoop conf can open)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for path in paths:
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        total += fs.getContentSummary(p).getLength()
    return int(total)


def derive_shuffle_partitions(
    spark,
    paths: Sequence[str],
    target_partition_bytes: int = 256 << 20,
    expansion: float = 4.0,
    floor: int = None,
    cap: int = 4096,
) -> int:
    """Size ``spark.sql.shuffle.partitions`` from the INPUT, not from a
    human: ``ceil(input_bytes * expansion / target_partition_bytes)``,
    floored at the core count and capped.

    ``expansion`` ~4 covers parquet's compression ratio (columnar
    snappy text/ints decode to roughly 3-5x their on-disk size); 256 MB
    of in-memory rows per post-shuffle partition is the standard
    sizing rule — small enough to sort/hash without spilling, large
    enough to amortize task overhead. Oversizing is cheap: AQE's
    partition coalescing merges the excess at runtime, so the derived
    value is an upper bound the optimizer trims, while UNDERSIZING
    (the default 32 at 600M rows = ~19M rows/partition) spills — the
    measured sf100 failure mode this replaces (SF1.md: 79.6 s -> 47.0 s
    at 256 partitions for private_join_nonunique).
    """
    import math

    if floor is None:
        floor = spark.sparkContext.defaultParallelism
    total = input_bytes(spark, *paths)
    need = math.ceil(total * float(expansion) / int(target_partition_bytes))
    return int(min(int(cap), max(int(floor), need, 1)))


def configure_shuffle_partitions(spark, paths: Sequence[str], **kwargs) -> int:
    """Set ``spark.sql.shuffle.partitions`` from the input size (see
    :func:`derive_shuffle_partitions`) and return the chosen value."""
    n = derive_shuffle_partitions(spark, paths, **kwargs)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n


def _driver_memory(paths: Sequence[str]) -> str:
    """``spark.driver.memory`` for a local-mode session over ``paths``,
    fixed before the JVM starts. Local mode folds a cluster's executor
    memory into one heap, and the widest shuffles (the sf100 truncation
    windows) need ~5x the input bytes, so the heap is 5x the on-disk
    size of ``paths`` within [16g, 64g] — clamped to half of physical
    RAM so the JVM still fits the host next to its Python workers.
    ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    disk_bytes = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    disk_bytes += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    ram_g = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 30
    want = min(64, max(16, (disk_bytes * 5) >> 30))
    return f"{max(1, min(want, ram_g // 2))}g"


@_contextlib.contextmanager
def stream_state_partitions(
    spark,
    rows: Optional[int] = None,
    input_bytes: Optional[int] = None,
    rows_per_partition: int = 250_000,
    partition_bytes: int = 64 << 20,
    expansion: float = 4.0,
    floor: int = 4,
):
    """Pin ``spark.sql.shuffle.partitions`` to a SIZE-DERIVED streaming
    state-partition count for the duration of one streaming query, then
    restore the session value.

    Structured Streaming creates one state-store instance per shuffle
    partition per stateful operator, and every micro-batch pays store
    init plus a checkpoint delta file per instance — overhead that is
    pure waste when partitions far exceed the per-trigger volume
    (measured on the stream-stream interval join at sf0.1: 9.8 s with
    the session's 32 partitions vs 3.1 s with 4, identical output). AQE
    cannot help: stateful exchanges are exempt from runtime coalescing
    because the partition count is baked into the checkpoint at first
    start. So the count must be chosen BEFORE ``.start()``, derived
    from the staged input (``rows`` or ``input_bytes``, whichever the
    caller knows for free), floored at ``floor`` for parallelism, and
    capped at the session's own batch-derived setting so a genuinely
    large stream keeps its scale — the knob stays input-proportional
    rather than tuned to any one machine.
    """
    import math

    current = int(spark.conf.get("spark.sql.shuffle.partitions"))
    need = 1
    if rows is not None:
        need = max(need, math.ceil(int(rows) / int(rows_per_partition)))
    if input_bytes is not None:
        need = max(
            need,
            math.ceil(
                int(input_bytes) * float(expansion) / int(partition_bytes)
            ),
        )
    n = min(current, max(int(floor), need))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(current))
