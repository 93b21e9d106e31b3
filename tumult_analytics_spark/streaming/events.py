"""Streaming rollups over the events table (Structured Streaming).

The reference has no streaming surface (SURVEY.md §2: no watermarks /
windows / state); this module adds the standard large-pipeline pattern:
readStream -> watermark -> windowed aggregation -> sink, plus a DP variant
that adds geometric noise to each finalized window count (event-level DP
under AddMaxRows, one noise draw per emitted window).

Batch/stream parity: `windowed_event_counts(df)` accepts either a batch or
streaming DataFrame — the same declarative plan compiles to an incremental
plan under readStream (Catalyst handles both), which is what makes the
logic testable: run it in batch, assert exact counts, then run the same
function under `trigger(availableNow)` and compare.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Event schema as stored (ts = timestamp[us] parquet, read as NTZ).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a parquet directory of events (file source: the
    standard replay/backfill pattern; swap for Kafka in production)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NB: the file stream source requires a DIRECTORY (its basePath);
    # point this at a directory of parquet files, not a single file.
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def _with_event_time(df: DataFrame) -> DataFrame:
    # Normalize ts (BIGINT nanos / NTZ / TIMESTAMP) for windowing.
    from ..utils import event_time

    return df.withColumn("event_time", event_time(df, "ts"))


def windowed_event_counts(
    df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: Optional[str] = None,
) -> DataFrame:
    """Tumbling (or sliding) windowed counts per event_type with a
    watermark for late data. Works on both batch and streaming inputs."""
    d = _with_event_time(df)
    if d.isStreaming:
        d = d.withWatermark("event_time", watermark)
    win = (
        F.window("event_time", window, slide) if slide else F.window("event_time", window)
    )
    return (
        d.groupBy(win.alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def dp_windowed_counts(
    df: DataFrame,
    epsilon: float,
    max_rows_per_user_per_window: int = 1,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed counts with event-level DP: each emitted window count gets
    two-sided geometric noise of scale d/epsilon (d = per-user per-window
    contribution bound; enforce upstream via dedup/truncation).

    Noise is added per output row in the aggregated (small) stream, so
    the DP stage costs O(#windows), not O(#events)."""
    from ..functions.noise import NoiseMechanism, NoiseSpec, add_noise_batches

    counts = windowed_event_counts(df, window=window, watermark=watermark)
    scale = max_rows_per_user_per_window / epsilon
    noise = [NoiseSpec("n", NoiseMechanism.GEOMETRIC, scale)]
    return add_noise_batches(counts, noise).drop("sum_value")


def enrich_with_dimension(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of ``stream`` is
    joined against the static ``dim`` table (broadcast — the dimension
    is read once and shipped to executors; the stream side never
    shuffles for the join). This is the standard Structured Streaming
    pattern for attaching user/account/catalog attributes to an event
    stream; stream-static inner and left joins are natively supported
    and stateless (no watermark needed for the join itself).

    Works identically on a batch DataFrame (same plan minus the
    incremental execution), which is what the SQL oracle replays.
    """
    return stream.join(
        F.broadcast(dim), stream[stream_key] == dim[dim_key], how
    )


def enriched_segment_rollup(
    stream: DataFrame, customer: DataFrame
) -> DataFrame:
    """Per (market segment, event type) count + value sum over an event
    stream enriched with the customer dimension — the demo rollup for
    :func:`enrich_with_dimension`. Complete-mode aggregation (no
    window): the state is one row per (segment, type) pair."""
    joined = enrich_with_dimension(
        stream, customer.select("c_custkey", "c_mktsegment"),
        "user_id", "c_custkey",
    )
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
