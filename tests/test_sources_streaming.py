"""Source layer (format readers + coercion + pushdown) and streaming
(sessionization via applyInPandasWithState, windowed rollups)."""

import os

import pandas as pd
import pytest

from tumult_analytics_spark import (
    AddOneRow,
    PureDPBudget,
    QueryBuilder,
)
from tumult_analytics_spark.sources import read_table, session_from_files, write_table

SF = "/root/testdata/sf0.001"
INF = PureDPBudget(float("inf"))


@pytest.fixture
def events_dir(tmp_path):
    # The file stream source needs a directory; symlink the single test
    # parquet file into one.
    d = tmp_path / "events_stream"
    d.mkdir()
    os.symlink(f"{SF}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_read_table_parquet_coerced(spark):
    df = read_table(spark, f"{SF}/lineitem.parquet")
    types = dict(df.dtypes)
    assert types["l_linenumber"] == "bigint"  # Int -> Long widening
    assert types["l_quantity"] == "double"


def test_read_table_pushdown_survives_coercion(spark):
    df = read_table(spark, f"{SF}/lineitem.parquet")
    plan = (
        df.filter("l_orderkey = 7")
        .select("l_orderkey", "l_quantity")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,7)]" in plan


def test_read_table_csv_json_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2], "b": ["x", "y"], "c": [1.5, 2.5]})
    )
    csv_path = str(tmp_path / "t_csv")
    json_path = str(tmp_path / "t_json")
    write_table(src, csv_path, format="csv", options={"header": "true"})
    write_table(src, json_path, format="json")
    got_csv = read_table(spark, csv_path, format="csv")
    got_json = read_table(
        spark, json_path, format="json", schema="a LONG, b STRING, c DOUBLE"
    )
    assert sorted(r["a"] for r in got_csv.collect()) == [1, 2]
    assert sorted(r["c"] for r in got_json.collect()) == [1.5, 2.5]
    assert dict(got_csv.dtypes)["a"] == "bigint"


def test_session_from_files(spark):
    s = session_from_files(
        INF,
        {"lineitem": (f"{SF}/lineitem.parquet", AddOneRow())},
        spark=spark,
        public_tables={"nation": f"{SF}/nation.parquet"},
    )
    out = s.evaluate(QueryBuilder("lineitem").count(), INF)
    assert out.collect()[0]["count"] > 0
    assert "nation" in s.public_sources


def test_read_table_rejects_unknown_format(spark):
    with pytest.raises(ValueError, match="Unsupported format"):
        read_table(spark, "/tmp/x", format="avro")


def test_windowed_counts_batch_stream_parity(spark, tmp_path, events_dir):
    from tumult_analytics_spark.streaming.events import (
        read_event_stream,
        windowed_event_counts,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = windowed_event_counts(
        spark.read.parquet(f"{SF}/events.parquet")
    )
    expected = {
        (r["window_start"], r["event_type"]): r["n"] for r in batch.collect()
    }
    assert expected

    stream = read_event_stream(spark, events_dir)
    out_dir = str(tmp_path / "out")
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == expected


def test_sessionize_events_stateful(spark, events_dir):
    from pyspark.sql import functions as F

    from tumult_analytics_spark.streaming.events import read_event_stream
    from tumult_analytics_spark.streaming.sessionize import sessionize_events

    from tumult_analytics_spark.utils import event_time

    stream = read_event_stream(spark, events_dir)
    stream = stream.withColumn("event_time", event_time(stream, "ts"))
    sessions = sessionize_events(stream, gap="1 hour")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM sessions").collect()
    # Closed sessions only (watermark-passed); every row is internally
    # consistent.
    assert rows, "expected at least one closed session"
    for r in rows:
        assert r["session_start"] <= r["session_end"]
        assert r["n_events"] >= 1


def test_bucketed_join_skips_exchange(spark, tmp_path):
    from tumult_analytics_spark.sources import (
        read_warehouse_table,
        write_bucketed_table,
    )

    a = spark.createDataFrame(
        pd.DataFrame({"k": list(range(100)), "v": range(100)})
    )
    b = spark.createDataFrame(
        pd.DataFrame({"k": list(range(100)), "w": range(100)})
    )
    write_bucketed_table(a, "bucket_a", ["k"], num_buckets=4, mode="overwrite")
    write_bucketed_table(b, "bucket_b", ["k"], num_buckets=4, mode="overwrite")
    ta = read_warehouse_table(spark, "bucket_a")
    tb = read_warehouse_table(spark, "bucket_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ta.join(tb, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 100
        # co-located bucketed join: a sort-merge join with NO exchange
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bucket_a")
        spark.sql("DROP TABLE IF EXISTS bucket_b")


def test_compact_table_merges_small_files(spark, tmp_path):
    from tumult_analytics_spark.sources.readers import compact_table

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    # Fragment: 16 small files.
    df.repartition(16).write.parquet(path)
    import glob

    before = len(glob.glob(f"{path}/*.parquet"))
    assert before >= 16
    n = compact_table(spark, path, target_file_mb=256)
    after = glob.glob(f"{path}/*.parquet")
    assert n == 1 and len(after) == 1
    # Data survives the rewrite byte-for-byte.
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg({"k": "sum"}).first()[0] == sum(range(10_000))


def test_compact_table_respects_target_size(spark, tmp_path):
    from tumult_analytics_spark.sources.readers import compact_table

    path = str(tmp_path / "frag2")
    spark.range(0, 200_000).write.parquet(path)
    # Tiny target forces multiple output files sized from on-disk bytes.
    n = compact_table(spark, path, target_file_mb=1)
    import glob

    files = glob.glob(f"{path}/*.parquet")
    assert n >= 1 and len(files) == n
    assert spark.read.parquet(path).count() == 200_000


def test_compact_table_rejects_non_local_path(spark, tmp_path):
    from tumult_analytics_spark.sources.readers import compact_table

    with pytest.raises(ValueError, match="LOCAL directory"):
        compact_table(spark, "s3://bucket/table")
    with pytest.raises(ValueError, match="LOCAL directory"):
        compact_table(spark, str(tmp_path / "does_not_exist"))


def test_compact_table_preserves_partition_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from tumult_analytics_spark.sources.readers import compact_table

    path = str(tmp_path / "part_frag")
    df = (
        spark.range(0, 5_000)
        .withColumnRenamed("id", "k")
        .withColumn("day", (F.col("k") % 3).cast("string"))
    )
    df.repartition(8).write.partitionBy("day").parquet(path)
    import glob
    import os

    assert len(glob.glob(f"{path}/day=*/")) == 3
    compact_table(spark, path, target_file_mb=256)
    # Hive layout survives: day=K directories still exist, so readers
    # keep partition pruning; data is intact and the column round-trips.
    assert sorted(os.path.basename(d.rstrip("/"))
                  for d in glob.glob(f"{path}/day=*/")) == [
        "day=0", "day=1", "day=2"
    ]
    back = spark.read.parquet(path)
    assert back.count() == 5_000
    assert back.filter("day = '1'").count() == df.filter("day = '1'").count()
    assert "day" in back.columns


class TestExtractJsonFields:
    def test_typed_extraction_and_malformed(self, spark):
        import pytest as _pytest

        from tumult_analytics_spark.functions.semistructured import (
            extract_json_fields,
        )

        df = spark.createDataFrame(
            [
                (1, '{"k": 5, "name": "x"}'),
                (2, '{"name": "y"}'),      # missing k
                (3, "not json"),            # malformed
                (4, None),                  # null
            ],
            "id long, props string",
        )
        out = {
            r["id"]: (r["k"], r["nm"])
            for r in extract_json_fields(
                df, "props", {"k": ("$.k", "long"), "nm": ("$.name", "string")}
            ).collect()
        }
        assert out[1] == (5, "x")
        assert out[2] == (None, "y")
        assert out[3] == (None, None) and out[4] == (None, None)
        with _pytest.raises(ValueError):
            extract_json_fields(df, "props", {})

    def test_plan_stays_codegen(self, spark):
        from tumult_analytics_spark.functions.semistructured import (
            extract_json_fields,
        )

        df = spark.createDataFrame([(1, "{}")], "id long, props string")
        plan = (
            extract_json_fields(df, "props", {"k": ("$.k", "long")})
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "BatchEvalPython" not in plan


class TestZorderKey:
    def test_interleave_and_locality(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from tumult_analytics_spark.utils import zorder_key

        df = spark.createDataFrame(
            [(x, y) for x in range(4) for y in range(4)],
            "x long, y long",
        )
        rows = {
            (r["x"], r["y"]): r["z"]
            for r in df.withColumn(
                "z", zorder_key([F.col("x"), F.col("y")], bits=2)
            ).collect()
        }
        # classic 4x4 Morton curve values
        assert rows[(0, 0)] == 0 and rows[(1, 0)] == 1
        assert rows[(0, 1)] == 2 and rows[(1, 1)] == 3
        assert rows[(2, 0)] == 4 and rows[(3, 3)] == 15
        # locality: neighbors in (x, y) stay within the same quadrant
        assert {rows[(x, y)] for x in (0, 1) for y in (0, 1)} == {0, 1, 2, 3}
        with _pytest.raises(ValueError):
            zorder_key([], bits=8)
        with _pytest.raises(ValueError):
            zorder_key([F.col("x")] * 4, bits=16)  # 64 > 63

    def test_plan_shuffle_free(self, spark):
        from pyspark.sql import functions as F

        from tumult_analytics_spark.utils import zorder_key

        df = spark.createDataFrame([(1, 2)], "x long, y long")
        plan = (
            df.withColumn("z", zorder_key([F.col("x"), F.col("y")], 4))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestProfileColumns:
    def test_single_pass_profile(self, spark):
        import pytest as _pytest

        from tumult_analytics_spark.sources import profile_columns

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "bb"), (None, "a")],
            "k long, s string",
        )
        rows = {
            r["column"]: r for r in profile_columns(df, ["k", "s"]).collect()
        }
        assert rows["k"]["n_rows"] == 4
        assert rows["k"]["n_nulls"] == 1
        assert rows["k"]["n_distinct"] == 2
        assert rows["s"]["n_nulls"] == 1
        assert rows["s"]["n_distinct"] == 2
        assert rows["s"]["avg_len"] == pytest.approx((1 + 2 + 1) / 3)
        with _pytest.raises(ValueError):
            profile_columns(df, [])
        with _pytest.raises(ValueError):
            profile_columns(df, ["nope"])

    def test_one_aggregation_pass(self, spark):
        from tumult_analytics_spark.sources import profile_columns

        df = spark.createDataFrame([(1, "a")], "k long, s string")
        plan = (
            profile_columns(df, ["k", "s"])
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        # a per-column-jobs formulation would show one scan per column
        assert plan.count("LogicalRDD") <= 2


class TestObserveStage:
    def test_metrics_ride_the_action(self, spark):
        from pyspark.sql import functions as F

        from tumult_analytics_spark.utils import observe_stage

        df = spark.range(100).withColumn("v", F.col("id") % 10)
        staged, obs = observe_stage(
            df, "ingest",
            n_rows=F.count(F.lit(1)),
            sum_v=F.sum("v"),
        )
        kept = staged.filter("v < 5")
        assert kept.count() == 50
        got = obs.get
        assert got["n_rows"] == 100  # measured pre-filter, same job
        assert got["sum_v"] == 450

    def test_default_rowcount(self, spark):
        from tumult_analytics_spark.utils import observe_stage

        staged, obs = observe_stage(spark.range(7), "s")
        staged.count()
        assert obs.get["n_rows"] == 7


class TestNumericSummary:
    def test_known_percentiles(self, spark):
        import pytest as _pytest

        from tumult_analytics_spark.sources import numeric_summary

        df = spark.createDataFrame(
            [(float(i),) for i in range(1, 11)], "v double"
        )
        r = numeric_summary(
            df, "v", percentiles=(0.0, 0.5, 1.0)
        ).collect()[0]
        assert r["n"] == 10 and r["min"] == 1.0 and r["max"] == 10.0
        assert r["p00"] == 1.0 and r["p100"] == 10.0
        # type-7: p50 of 1..10 = 5.5
        assert r["p50"] == 5.5
        assert r["mean"] == 5.5
        with _pytest.raises(ValueError):
            numeric_summary(df, "v", percentiles=())
        with _pytest.raises(ValueError):
            numeric_summary(df, "v", percentiles=(1.5,))

    def test_grouped_single_pass(self, spark):
        from tumult_analytics_spark.sources import numeric_summary

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("b", 10.0)], "g string, v double"
        )
        rows = {r["g"]: r for r in numeric_summary(df, "v", ("g",)).collect()}
        assert rows["a"]["mean"] == 2.0 and rows["b"]["n"] == 1
        plan = (
            numeric_summary(df, "v", ("g",))
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert plan.count("LogicalRDD") == 1  # one scan, one pass


class TestCorrelationMatrix:
    def test_pairs_and_values(self, spark):
        import pytest as _pytest

        from tumult_analytics_spark.sources import correlation_matrix

        df = spark.createDataFrame(
            [(1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0)],
            "x double, y double, z double",
        )
        rows = {
            (r["col_a"], r["col_b"]): r["corr"]
            for r in correlation_matrix(df, ["x", "y", "z"]).collect()
        }
        assert set(rows) == {("x", "y"), ("x", "z"), ("y", "z")}
        assert rows[("x", "y")] == pytest.approx(1.0)
        assert rows[("x", "z")] == pytest.approx(-1.0)
        with _pytest.raises(ValueError):
            correlation_matrix(df, ["x"])
        with _pytest.raises(ValueError):
            correlation_matrix(df, ["x", "nope"])


class TestAbTestSummary:
    def test_known_t(self, spark):
        import math

        from tumult_analytics_spark.sources import ab_test_summary

        rows = [("a", v) for v in [1.0, 2.0, 3.0, 4.0]] + [
            ("b", v) for v in [2.0, 4.0, 6.0]
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        r = ab_test_summary(df, "g", "v", "a", "b").collect()[0]
        assert (r["n_a"], r["n_b"]) == (4, 3)
        assert r["mean_a"] == 2.5 and r["mean_b"] == 4.0
        sa2 = sum((x - 2.5) ** 2 for x in [1, 2, 3, 4]) / 3
        sb2 = sum((x - 4.0) ** 2 for x in [2, 4, 6]) / 2
        t = (2.5 - 4.0) / math.sqrt(sa2 / 4 + sb2 / 3)
        assert r["t_stat"] == pytest.approx(round(t, 6))


class TestSkewReport:
    def test_top_keys_and_shares(self, spark):
        import pytest as _pytest

        from tumult_analytics_spark.utils import skew_report

        df = spark.createDataFrame(
            [("hot",)] * 70 + [("warm",)] * 20 + [("cold",)] * 10,
            "k string",
        )
        rows = skew_report(df, "k", top_n=2).collect()
        assert [(r["key"], r["n_rows"], r["share"], r["rank"]) for r in rows] == [
            ("hot", 70, 0.7, 1),
            ("warm", 20, 0.2, 2),
        ]
        with _pytest.raises(ValueError):
            skew_report(df, "k", top_n=0)


class TestHllSketches:
    """Mergeable HLL distinct-count sketches (Spark 4 Datasketches
    built-ins): build once at fine cells, roll up by union."""

    def test_rollup_matches_exact_at_small_cardinality(self, spark):
        import pandas as pd

        from tumult_analytics_spark.sources.readers import (
            build_distinct_sketches,
            rollup_distinct,
        )

        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "d": [i % 5 for i in range(400)],
                    "h": [i % 20 for i in range(400)],
                    "u": [(i * 7) % 90 for i in range(400)],
                }
            )
        )
        sk = build_distinct_sketches(df, ["d", "h"], "u")
        # Roll up to d: union of hour sketches == exact distinct per d.
        got = {
            r["d"]: r["n_distinct"]
            for r in rollup_distinct(sk, ["d"]).collect()
        }
        pdf = df.toPandas()
        for d, grp in pdf.groupby("d"):
            assert got[d] == grp["u"].nunique()
        # Global rollup (empty grouping) too.
        total = rollup_distinct(sk, []).collect()[0]["n_distinct"]
        assert total == pdf["u"].nunique()

    def test_sketches_are_reusable_without_rescanning(self, spark):
        import pandas as pd

        from tumult_analytics_spark.sources.readers import (
            build_distinct_sketches,
            rollup_distinct,
        )

        df = spark.createDataFrame(
            pd.DataFrame({"g": [i % 3 for i in range(90)], "u": list(range(90))})
        )
        sk = build_distinct_sketches(df, ["g"], "u").localCheckpoint(eager=True)
        a = rollup_distinct(sk, ["g"]).collect()
        b = rollup_distinct(sk, []).collect()
        assert sum(r["n_distinct"] for r in a) == 90
        assert b[0]["n_distinct"] == 90

    def test_validation(self, spark):
        import pandas as pd
        import pytest as _pytest

        from tumult_analytics_spark.sources.readers import (
            build_distinct_sketches,
        )

        df = spark.createDataFrame(pd.DataFrame({"u": [1]}))
        with _pytest.raises(ValueError):
            build_distinct_sketches(df, [], "u")


class TestQuantileSketches:
    """Mergeable histogram quantile sketches: build once at fine
    cells, roll up by element-wise addition; answers exact to one bin
    width."""

    def _df(self, spark):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "g": ["a" if i % 3 else "b" for i in range(300)],
                    "sub": [i % 7 for i in range(300)],
                    "v": [float((i * 13) % 200) for i in range(300)],
                }
            )
        )

    def test_rollup_equals_direct_build(self, spark):
        from tumult_analytics_spark.sources.readers import (
            build_quantile_sketches,
            rollup_quantiles,
        )

        df = self._df(spark)
        fine = build_quantile_sketches(df, ["g", "sub"], "v", 0.0, 200.0, bins=64)
        coarse = build_quantile_sketches(df, ["g"], "v", 0.0, 200.0, bins=64)
        via_rollup = {
            (r["g"],): (r["n"], r["q0_5"], r["q0_9"])
            for r in rollup_quantiles(
                fine, ["g"], (0.5, 0.9), 0.0, 200.0, bins=64
            ).collect()
        }
        direct = {
            (r["g"],): (r["n"], r["q0_5"], r["q0_9"])
            for r in rollup_quantiles(
                coarse, ["g"], (0.5, 0.9), 0.0, 200.0, bins=64
            ).collect()
        }
        assert via_rollup == direct  # merge is lossless

    def test_quantile_within_one_bin_width(self, spark):
        import numpy as np

        from tumult_analytics_spark.sources.readers import (
            build_quantile_sketches,
            rollup_quantiles,
        )

        df = self._df(spark)
        sk = build_quantile_sketches(df, ["g", "sub"], "v", 0.0, 200.0, bins=100)
        got = {
            r["g"]: r["q0_5"]
            for r in rollup_quantiles(
                sk, ["g"], (0.5,), 0.0, 200.0, bins=100
            ).collect()
        }
        pdf = df.toPandas()
        width = 200.0 / 100
        for g, grp in pdf.groupby("g"):
            exact = np.quantile(grp["v"], 0.5, method="inverted_cdf")
            assert abs(got[g] - exact) <= width + 1e-9

    def test_out_of_range_values_clamp(self, spark):
        from tumult_analytics_spark.sources.readers import (
            build_quantile_sketches,
            rollup_quantiles,
        )

        df = spark.createDataFrame(
            [("a", -50.0), ("a", -1.0), ("a", 500.0)], "g string, v double"
        )
        sk = build_quantile_sketches(df, ["g"], "v", 0.0, 100.0, bins=10)
        row = rollup_quantiles(sk, ["g"], (0.5,), 0.0, 100.0, bins=10).first()
        assert row["n"] == 3  # nothing dropped
        assert 0.0 < row["q0_5"] <= 10.0  # clamped lows land in bin 0

    def test_global_rollup_empty_grouping(self, spark):
        from tumult_analytics_spark.sources.readers import (
            build_quantile_sketches,
            rollup_quantiles,
        )

        df = self._df(spark)
        sk = build_quantile_sketches(df, ["g", "sub"], "v", 0.0, 200.0, bins=64)
        row = rollup_quantiles(sk, [], (0.9,), 0.0, 200.0, bins=64).first()
        assert row["n"] == 300
