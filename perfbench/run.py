"""The repository benchmark: one workload of tumult_analytics_spark per run.

    python3 perfbench/run.py --workload dp_release --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its tables (once per
checkout, under ``.perfbench/``), starts Spark on ``local[nproc]``, sets up
the workload three times (table registration plus an untimed warm-up query),
then plays whole query cycles in one closed loop until ``--seconds`` of
timed work and at least ``MIN_QUERIES`` queries have passed. After the
timed phase it checks every result and prints each metric by name with its
unit, then one JSON summary line last.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` wraps the
package's layer entry points, labels Spark jobs by query and phase, turns
on the Spark event log and counts py4j round trips, and reports the
per-layer metrics (with the traced run's own ``queries_per_s``, so the
tracing overhead is visible). Workload definitions are in
``workloads.py``; metric definitions are in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

#: Set-up is repeated this many times per run; ``setup_s`` uses the median.
SETUP_REPS = 3
#: The timed phase ends at the first cycle boundary after --seconds with at
#: least this many queries, so every run has a tail percentile.
MIN_QUERIES = 11


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def cpus() -> int:
    """The CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def start_spark(work: str, trace: bool):
    """A local[nproc] session whose scratch files stay under ``work``."""
    from pyspark.sql import SparkSession

    # Driver heap: 2 GB, clamped to a quarter of physical memory.
    mem_mb = min(2048, max(512, mem_total_mb() // 4))
    java_tmp = os.path.join(work, "java")
    os.makedirs(java_tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cpus()}]")
        .appName("tumult_analytics_spark-perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.local.dir", os.path.join(work, "spark"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.streaming.checkpointLocation",
                os.path.join(work, "checkpoints"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData "
                f"-Dderby.system.home={work}")
    )
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", f"file://{events}"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> set[int]:
    """Live descendants of ``pid``, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # exited while listing
                pass
    found, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found.update(kids)
        todo.extend(kids)
    return found


def running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (zombies have exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM and the Python workers it started."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else set()
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    # Workers exit once their JVM has; wait for them, then stop stragglers.
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {w for w in workers if running(w)}
        time.sleep(0.05)
    for w in workers:
        try:
            os.kill(w, signal.SIGKILL)
        except ProcessLookupError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def release_blocks(spark, full: bool) -> None:
    """Free what the previous query left behind, so later queries are not
    taxed by earlier ones: cached blocks, state stores, and (through a JVM
    collection, which lets Spark clean up unreachable RDDs) checkpoint
    blocks. ``full`` also drops temp views left by streaming memory sinks
    and collects Python garbage first; at 50 ms each those two run once per
    cycle rather than after every query."""
    spark.catalog.clearCache()
    jvm = spark.sparkContext._jvm
    jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    if full:
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        gc.collect()  # drops py4j handles held in reference cycles
    jvm.System.gc()


class Oracle:
    """Exact answers from DuckDB over the run's parquet files."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            name = f.rsplit(".", 1)[0]
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                             f"'{os.path.join(data_dir, f)}'")
        self.cache: dict = {}

    def __call__(self, sql: str, frame: bool = True):
        key = (sql, frame)
        if key not in self.cache:
            res = self.con.sql(sql)
            self.cache[key] = res.df() if frame else (res.columns, res.fetchall())
        return self.cache[key]

    def close(self) -> None:
        self.con.close()


def run_op(op, records: list, tracer, qid: str, release) -> float:
    """Run one op in the closed loop; returns its timed seconds.

    In the traced run an op with an infinite-budget twin runs it untimed,
    before the op on every other such op and after it on the rest, with
    blocks released in between, so neither side always inherits caches
    the other has just warmed.
    """
    twin_first = bool(tracer and op.twin and tracer.twin_first())
    if twin_first:
        tracer.run_twin(op, qid)
        release()
    err = handle = None
    if tracer:
        tracer.begin_query(qid, op)
    t0 = time.perf_counter()
    try:
        handle = op.run()
    except Exception as e:  # a failed query is counted, not fatal
        err = f"{type(e).__name__}: {e}"
    dt = time.perf_counter() - t0
    if tracer:
        tracer.end_query(qid, op, dt, err is None, handle)
        if op.twin and not twin_first and err is None:
            release()
            tracer.run_twin(op, qid)
    records.append({"op": op, "qid": qid, "s": dt, "err": err,
                    "handle": handle})
    print(f"# {qid} {op.name} {dt:.3f}s{' FAILED' if err else ''}",
          file=sys.stderr, flush=True)
    return dt


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    if not (os.path.isdir(os.path.join(ROOT, "tumult_analytics_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("tumult_analytics_spark and __spark_entry__.py must be in the "
              "checkout root", file=sys.stderr)
        return 2
    cls = W.WORKLOADS[args.workload]

    import data

    t_gen = time.perf_counter()
    cache = os.path.join(ROOT, ".perfbench")
    data_dir = data.ensure_tables(cache, cls.sf)
    gen_s = time.perf_counter() - t_gen
    work = os.path.join(cache, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Python workers import the package; temp files stay in the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    sys.path.insert(0, ROOT)

    spark = None
    try:
        spark = start_spark(work, bool(args.trace))
        jvm_s = process_age() - gen_s
        t0 = time.perf_counter()
        import __spark_entry__ as entry
        import tumult_analytics_spark as ta
        from tumult_analytics_spark.utils import configure_shuffle_partitions

        configure_shuffle_partitions(spark, [data_dir], floor=cpus())
        import_s = time.perf_counter() - t0
        result = run_workload(args, cls, spark, ta, entry, data_dir,
                              (jvm_s, import_s), work)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in result["lines"]:
        print(line)
    print(json.dumps(result["summary"], separators=(",", ":")))
    return 0


def run_workload(args, cls, spark, ta, entry, data_dir, start, work) -> dict:
    import stats
    import workloads as W

    oracle = Oracle(data_dir)
    tracer = None
    env = W.Env(spark, ta, entry, data_dir, oracle)
    W.install_build_hook(ta, env)
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark, cls.name, work)
        env.tracer = tracer
        tracer.install(ta)
    wl = cls(env, args.seed)

    # Set-up, SETUP_REPS times: register the tables and warm up.
    reps, register_s, warmup_s = [], [], []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        entry._READ_CACHE.clear()
        for t in cls.tables:
            entry._read(spark, data_dir, t).schema
        t1 = time.perf_counter()
        for i, op in enumerate(wl.warmup()):
            run_op(op, [], None, f"warmup{r}.{i}", None)
            release_blocks(spark, full=True)
        t2 = time.perf_counter()
        register_s.append(t1 - t0)
        warmup_s.append(t2 - t1)
        reps.append(t2 - t0)
    # JVM start is Spark's start-up, not the package's, so setup_s leaves it
    # out; the traced run reports it as setup.jvm_s.
    jvm_s, import_s = start
    setup_s = import_s + statistics.median(reps)
    if tracer:
        tracer.reset()

    # Timed phase: whole cycles, until --seconds of timed work.
    records: list = []
    timed, cycle, release_s = 0.0, 0, 0.0
    while timed < args.seconds or len(records) < MIN_QUERIES:
        ops = wl.cycle(cycle)
        for i, op in enumerate(ops):
            timed += run_op(op, records, tracer, f"c{cycle}.{i}",
                            lambda: release_blocks(spark, full=False))
            t0 = time.perf_counter()
            release_blocks(spark, full=i == len(ops) - 1)
            release_s += time.perf_counter() - t0
        cycle += 1
    rss = peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
    t_check = time.perf_counter()

    # Correctness, outside the timed phase.
    failures = []
    for rec in records:
        op = rec["op"]
        errs = [rec["err"]] if rec["err"] else []
        if not errs and op.check:
            try:
                errs = op.check(rec["handle"])
            except Exception as e:
                errs = [f"check {type(e).__name__}: {e}"]
        rec["ok"] = not errs
        if errs:
            failures.append(f"{rec['qid']} {op.name}: {errs[0]}"[:300])
    oracle.close()
    check_s = time.perf_counter() - t_check
    lat = [r["s"] for r in records if r["ok"]]
    attempted = len(records)
    failed = attempted - len(lat)
    tl = stats.tail(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "queries_per_s": (len(lat) / timed, "1/s"),
        # 0 only when too few queries succeeded, and then correct is false.
        "query_p50_s": (stats.quantile(lat, 0.5) if lat else 0.0, "s"),
        "query_tail_s": (tl[0] if tl else 0.0, "s"),
        "failed_ratio": (failed / max(1, attempted), "1"),
        "peak_rss_mb": (rss, "MB"),
    }
    lines = [f"# {f}" for f in failures[:20]]
    lines.append(
        f"workload={cls.name} seed={args.seed} cycles={cycle} queries="
        f"{attempted} timed_s={timed:.3f} release_s={release_s:.3f} "
        f"check_s={check_s:.3f} sf={cls.sf} trace={args.trace}")
    register, warmup = statistics.median(register_s), statistics.median(warmup_s)
    lines.append(f"setup: jvm_s={jvm_s:.3f} import_s={import_s:.3f} "
                 f"register_s={register:.3f} warmup_s={warmup:.3f} "
                 f"(median of {SETUP_REPS})")
    if tl:
        lines.append(f"query_tail_s is p{tl[1]:.1f} of n={tl[2]} samples")
    if args.trace:
        per_layer = tracer.metrics(W.OPERATOR_MODULES)
        per_layer["setup.jvm_s"] = (jvm_s, "s")
        per_layer["setup.import_s"] = (import_s, "s")
        per_layer["setup.register_s"] = (register, "s")
        per_layer["setup.warmup_s"] = (warmup, "s")
        per_layer["traced.queries_per_s"] = e2e["queries_per_s"]
        metrics = per_layer
    else:
        # Printed above but left out of BENCHMARK.json: failed_ratio is 0
        # whenever the program is correct, and with one cycle per run the
        # tail percentile falls below the median (see perfbench/README.md).
        metrics = {k: v for k, v in e2e.items()
                   if k not in ("failed_ratio", "query_tail_s")}
    for k, (v, unit) in sorted({**e2e, **metrics}.items()):
        lines.append(f"{k} = {v:.6g} {unit}")
    summary = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {"lines": lines, "summary": summary}


if __name__ == "__main__":
    sys.exit(main())
