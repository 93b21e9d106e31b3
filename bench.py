"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall-clock seconds.

Queries run at infinite budget (same code path as finite budget minus the
noise draw, which costs O(#groups) and is negligible); timing includes the
full Spark action (collect)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    from tumult_analytics_spark.utils import _driver_memory

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tumult_analytics_spark-bench")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", _driver_memory([sf_dir]))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Shuffle partitions derived from scanned bytes (ceil(bytes * 4 /
    # 256 MB), floored at core count): the default one-per-core spills
    # at 600M-row shuffles (~19M rows/partition), and AQE coalesces
    # any excess at small sf — no env var needed; SPARK_GRAFT_
    # SHUFFLE_PARTITIONS remains as an explicit override.
    env_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env_parts:
        spark.conf.set("spark.sql.shuffle.partitions", env_parts)
    else:
        from tumult_analytics_spark.utils import configure_shuffle_partitions

        configure_shuffle_partitions(
            spark, [sf_dir], floor=max(int(cpus), 8)
        )

    import __spark_entry__ as entry

    qs = entry.queries()
    # Warm up the JVM/parquet footer cache and the Arrow/pandas-UDF worker
    # pool with one tiny action each (the reference's own benchmark scripts
    # do a warm-up run before timing; see BASELINE.md).
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(32).select(_warm(F.col("id"))).count()

    # Timed runs per query, report the min: steady-state time, robust to
    # ambient load spikes (the reference's benchmark scripts likewise warm
    # up before timing; see BASELINE.md). Two runs normally; a third when
    # the first two disagree by >30% (a spike hit one of them). DataFrame
    # caches persisted inside operators are cleared between runs so later
    # runs measure real work, not cache hits.
    only = {
        q for q in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if q
    }
    if only:
        qs = {k: v for k, v in qs.items() if k in only}

    import gc

    def _release_blocks() -> None:
        """Free localCheckpoint RDD blocks left by the previous query.

        ``clearCache`` drops only catalog-cached tables; checkpoint blocks
        are reclaimed by Spark's ContextCleaner, which fires on *JVM*
        garbage collection of the RDD object — and the JVM object is only
        unreachable once py4j has released the Python-side handle. So:
        drop Python refs, collect Python garbage (releases py4j handles),
        then nudge a JVM GC so the ContextCleaner queue drains before the
        next query is timed. Without this a 125-query session accumulates
        gigabytes of dead checkpoint blocks that tax later queries
        (observed as phantom >2x regressions in round-3's recorded bench).
        """
        spark.catalog.clearCache()
        # Drop accumulated temp views: every streaming key registers a
        # uuid-named memory-sink table per run and cannot drop it itself
        # (the table IS the returned result). 185 keys x 2-3 runs of
        # leaked sink tables + their in-memory blocks measurably tax
        # late-session queries (round-9: streaming_interval_join read
        # 45.9 s inside the full session vs 9.9 s isolated).
        try:
            for v in spark.catalog.listTables():
                if v.isTemporary:
                    spark.catalog.dropTempView(v.name)
        except Exception:  # pragma: no cover
            pass
        # Unload streaming state-store providers (loaded stores + their
        # maintenance tasks persist for the session lifetime otherwise).
        try:
            spark.sparkContext._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception:  # pragma: no cover
            pass
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # pragma: no cover
            pass

    materialize = os.environ.get("SPARK_GRAFT_MATERIALIZE", "noop")
    timings: dict[str, float] = {}
    total = 0.0
    for name, fn in sorted(qs.items()):
        runs: list[float] = []
        failed = False
        while len(runs) < 2 or (
            len(runs) == 2 and max(runs) > 1.3 * min(runs) and min(runs) > 0.3
        ):
            if len(runs) >= 3:
                break
            _release_blocks()
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                # Materialize through the noop sink — the same sink the
                # reference's own benchmark scripts use (BASELINE.md:
                # keyset_cross_product_per_size.py:22). count() is NOT a
                # valid materializer here: Catalyst's ColumnPruning drops
                # aggregate expressions (and windows) the count doesn't
                # reference, so a groupBy(k).agg(<heavy>) key would time
                # only the group-key scan (measured: 0.34 s pruned vs
                # 56 s real on ingest_repair_pipeline at sf10 — found
                # round 9). SPARK_GRAFT_MATERIALIZE=count keeps the
                # legacy method for cross-round host-speed ratios
                # against r01..r08 artifacts.
                if materialize == "count":
                    df.count()
                else:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # pragma: no cover
                print(f"# {name} FAILED: {e}", file=sys.stderr)
                failed = True
                break
            runs.append(time.perf_counter() - t0)
            del df
        best = -1.0 if failed else min(runs)
        timings[name] = round(best, 3)
        if best > 0:
            total += best
        # Per-query progress on stderr: long sessions (sf1/sf10 scaling
        # runs take 30+ min) are otherwise a black box, and a straggler
        # can't be attributed to a query without this line.
        print(
            f"# done {name}: {best:.3f}s ({len(runs)} runs)",
            file=sys.stderr,
            flush=True,
        )

    # "sf0.1" -> 0.1, ".sf1" -> 1 (lstrip dots so a hidden dir like
    # .sf1 doesn't parse as ".1" = 0.1).
    sf = os.path.basename(sf_dir.rstrip("/")).lstrip(".").replace("sf", "")
    calibration = _r01_subset_calibration(timings)
    budget_flags = _budget_deviations(timings, calibration, sf, materialize)
    for msg in budget_flags:
        print(f"# BUDGET {msg}", file=sys.stderr, flush=True)
    payload = {
        "metric": "total_query_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "materialize": materialize,
    }
    payload.update(calibration)
    # Host-speed calibration + headline that SURVIVES the driver's
    # 2,000-char stdout-tail cap (r7 verdict: BENCH_r07 parsed=null
    # because the 167-key line outgrew the tail). The compact line is
    # printed LAST — the tail keeps the END of stdout — and also first
    # for any head-capped consumer; the full per-query map still goes
    # out as the contract's one big JSON line and into
    # bench_full_r<N>.json. Cross-round normalization rule: divide any
    # two rounds' per-query times by their calibration_r01_subset_s
    # ratio before comparing (the r01 43-key subset is code-frozen, so
    # its total moves only with host speed).
    headline = {
        "metric": "total_query_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "sf": float(sf) if sf else None,
        "n_queries": len(timings),
        "n_failed": sum(1 for v in timings.values() if v < 0),
        "materialize": materialize,
        "slowest": dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:8]
        ),
        "budget_flags": budget_flags[:8],
    }
    headline.update(calibration)
    print(json.dumps(headline))
    print(json.dumps(payload))
    # r8 verdict What's-wrong #2: the driver keeps a 2,000-char TAIL
    # of stdout, so one big per-query line loses its head. Re-emit the
    # map as bounded chunk lines (each independently parseable, keys
    # sorted) so the tail carries complete chunks, then the compact
    # headline LAST — the line the driver's parsed field needs intact
    # (map-last would put a front-truncated, unparseable line there:
    # the exact r7 parsed=null failure). bench_full_r<N>.json still
    # records the whole map losslessly.
    # Chunks are emitted in the FEWEST bytes that stay parseable
    # (compact separators, 3-decimal values, sorted keys) so the
    # driver's 2,000-char tail carries as many complete chunk lines as
    # possible (r10 verdict #3).
    chunk, chunk_chars, part = {}, 0, 0
    items = sorted(timings.items())
    for i, (k, v) in enumerate(items):
        chunk[k] = v
        chunk_chars += len(k) + 10
        if chunk_chars >= 1200 or i == len(items) - 1:
            part += 1
            print(json.dumps(
                {"metric": "queries_chunk", "part": part,
                 "queries": chunk},
                separators=(",", ":"),
            ))
            chunk, chunk_chars = {}, 0
    print(_queries_compact_line(timings))
    print(json.dumps(headline))
    _write_full_artifact(payload, only)
    spark.stop()


def _queries_compact_line(timings: dict) -> str:
    """Every key's seconds on one line, without key names: values in
    ``sorted(queries())`` order, 3 decimals (~1.2 KB for 186 keys). Printed
    just before the headline, it is the per-key line a 2,000-char stdout
    tail always holds whole, where the chunk lines only fit in part."""
    return json.dumps(
        {
            "metric": "queries_compact",
            "order": "sorted(queries())",
            "values": [round(v, 3) for _, v in sorted(timings.items())],
        },
        separators=(",", ":"),
    )


def _budget_deviations(
    timings: dict, calibration: dict, sf: str, materialize: str
) -> list:
    """Per-key regression tripwire (r9 verdict #7): the driver compares
    round TOTALS only, so a 2x regression on one key hides inside a
    185-key sum. ``bench_budget.json`` commits each key's expected
    seconds (noop materializer, sf0.1, full-session) plus the host-speed
    anchor it was measured under; this flags any key that runs >2x its
    host-normalized budget (0.5 s floor — sub-second keys are scheduler
    noise) and any key the budget file doesn't know (new keys must get a
    budget with their first full session: tools/make_bench_budget.py).
    Flags are advisory lines in the headline + stderr, never a failure —
    the bench contract stays one JSON line."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "bench_budget.json")) as f:
            budget = json.load(f)
    except Exception:
        return []
    if sf != str(budget.get("sf", "0.1")) or materialize != budget.get(
        "materialize", "noop"
    ):
        return []  # budgets are only meaningful at their measured shape
    # Budgets were measured in a FULL session; a SPARK_GRAFT_ONLY run
    # front-loads JVM/Arrow warmup into its few keys and its
    # calibration anchor is a fragment — comparisons would be noise.
    if calibration.get("calibration_n_keys", 0) < 40:
        return []
    # Host-speed normalization: the code-frozen r01 subset total moves
    # only with host speed, so scale budgets by this session's ratio.
    anchor = budget.get("calibration_r01_subset_s") or 0
    now = calibration.get("calibration_r01_subset_s") or 0
    scale = (now / anchor) if anchor and now else 1.0
    flags = []
    per_key = budget.get("budgets", {})
    for k, t in sorted(timings.items()):
        b = per_key.get(k)
        if b is None:
            flags.append(f"{k}: no budget (new key? run make_bench_budget)")
        elif t > 0.5 and b > 0 and t > 2.0 * b * scale:
            flags.append(
                f"{k}: {t:.2f}s > 2x budget {b:.2f}s (host-scale {scale:.2f})"
            )
    return flags


def _r01_subset_calibration(timings: dict) -> dict:
    """Sum this session's times over the code-frozen r01 43-key subset
    (read from the committed BENCH_r01.json) — a per-session host-speed
    anchor recorded INSIDE the bench JSON, so cross-round ratios can be
    normalized without re-running anything (r7 verdict: a measured
    ~1.4x host drift was indistinguishable from a regression)."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "BENCH_r01.json")) as f:
            r01 = json.load(f)["parsed"]["queries"]
    except Exception:
        return {}
    covered = [
        k for k in r01 if k in timings and timings[k] > 0
    ]
    if not covered:
        return {}
    return {
        "calibration_r01_subset_s": round(
            sum(timings[k] for k in covered), 3
        ),
        "calibration_n_keys": len(covered),
    }


def _write_full_artifact(payload: dict, only: set) -> None:
    """Commit-able full per-query record (r4 verdict #7): the driver's
    BENCH_r* artifacts keep only a 2,000-char tail of stdout, which
    truncates the per-query map and has repeatedly forced the judge to
    re-run the whole session to audit a single query. Full sessions
    (no SPARK_GRAFT_ONLY filter, default sf) also write
    ``bench_full_r<N>.json`` next to this script, where N is inferred
    as one past the newest driver-committed BENCH_r*.json — i.e. the
    round this run will be recorded under."""
    if only or os.environ.get("SPARK_GRAFT_SF_DIR"):
        return  # partial or non-default-sf session: not a round artifact
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    n = (max(rounds) + 1) if rounds else 1
    with open(os.path.join(here, f"bench_full_r{n:02d}.json"), "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
