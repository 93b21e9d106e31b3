"""One-off stage-level diagnosis for a single declared key (guide §1/§7).

Runs ONE noop materialization of $DIAG_KEY at $SPARK_GRAFT_SF_DIR with the
bench session conf plus eventLog enabled, then prints per-stage wall time,
task count, shuffle read/write bytes, spill, and the stage's callsite so
the dominant stage can be attributed to an operator. NOT a timing tool —
it exists to answer "where does the time go" with Spark's own metrics.

Usage: DIAG_KEY=private_join_count SPARK_GRAFT_SF_DIR=/root/repo/.sf100 \
       python tools/diag_eventlog.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def _parse_stages(lines) -> dict:
    """Per-stage metrics from event-log JSON lines: every
    ``SparkListenerStageCompleted`` event becomes ``{stage id: {...}}``
    with its wall time, task count, shuffle/spill bytes and executor
    times. A stage without ``Number of Tasks`` counts 0 tasks; one
    without ``Submission Time`` or ``Completion Time`` (e.g. a skipped
    stage) has ``wall_s`` None rather than an epoch-scale difference.
    Lines that are not JSON are ignored."""
    stages = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        if ev.get("Event") != "SparkListenerStageCompleted":
            continue
        si = ev["Stage Info"]
        t0, t1 = si.get("Submission Time"), si.get("Completion Time")
        acc = {a["Name"]: a.get("Value", 0) for a in si.get("Accumulables", [])}

        def num(name, unit):
            try:
                return int(acc.get(name, 0)) // unit
            except (TypeError, ValueError):
                return 0

        m = "internal.metrics."
        mb = 1 << 20
        stages[si["Stage ID"]] = {
            "wall_s": None
            if t0 is None or t1 is None
            else round((t1 - t0) / 1000.0, 2),
            "tasks": si.get("Number of Tasks") or 0,
            "name": si.get("Stage Name", "")[:80],
            "details": si.get("Details", "").split("\n")[0][:120],
            "sh_read_mb": num(m + "shuffle.read.remoteBytesRead", mb)
            + num(m + "shuffle.read.localBytesRead", mb),
            "sh_write_mb": num(m + "shuffle.write.bytesWritten", mb),
            "spill_disk_mb": num(m + "diskBytesSpilled", mb),
            "spill_mem_mb": num(m + "memoryBytesSpilled", mb),
            "cpu_s": num(m + "executorCpuTime", 10**9),
            "run_s": num(m + "executorRunTime", 10**3),
            "gc_s": num(m + "jvmGCTime", 10**3),
        }
    return stages


def _format_stage(sid: int, s: dict) -> str:
    """One report line for a parsed stage (``-`` for an unknown wall)."""
    wall = "-" if s["wall_s"] is None else f"{s['wall_s']:.2f}s"
    return (
        f"stage {sid:3d} wall {wall:>9} tasks {s['tasks']:4d} "
        f"cpu {s['cpu_s']:5d}s run {s['run_s']:5d}s gc {s['gc_s']:4d}s "
        f"shR {s['sh_read_mb']:6d}M shW {s['sh_write_mb']:6d}M "
        f"spill {s['spill_disk_mb']:6d}M | {s['name']}"
    )


def main() -> None:
    key = os.environ["DIAG_KEY"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    evdir = tempfile.mkdtemp(prefix="tas_evlog_")

    from pyspark.sql import SparkSession

    from tumult_analytics_spark.utils import _driver_memory

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tas-diag")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", _driver_memory([sf_dir]))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    env_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env_parts:
        spark.conf.set("spark.sql.shuffle.partitions", env_parts)
    else:
        from tumult_analytics_spark.utils import configure_shuffle_partitions

        configure_shuffle_partitions(spark, [sf_dir], floor=max(int(cpus), 8))

    import __spark_entry__ as entry

    df = entry.queries()[key](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    spark.stop()

    lines = (
        line
        for fn in os.listdir(evdir)
        for line in open(os.path.join(evdir, fn))
    )
    stages = _parse_stages(lines)
    for sid in sorted(stages, key=lambda s: -(stages[s]["wall_s"] or 0)):
        print(_format_stage(sid, stages[sid]))
    print("eventlog:", evdir)


if __name__ == "__main__":
    main()
