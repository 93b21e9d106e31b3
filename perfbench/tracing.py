"""The traced run: spans around each layer's entry points, Spark job groups,
the Spark event log and py4j round-trip counts.

Spans are recorded from the benchmark's side only: the package's public
entry points are wrapped in place for the life of the run; no package
source changes. ``session.py`` imports ``rewrite`` and
``compile_measurement`` by name, so those are wrapped on the
``tumult_analytics_spark.session`` module. Every Spark job is labelled
``<workload>:<query>:<phase>`` with ``SparkContext.setJobGroup``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

from stats import Span, self_times

#: Per-layer metric names and units, in report order.
SPARK_METRICS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.plan_s": "s", "spark.exec_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.python_udf_mb": "MB", "spark.jvm_gc_s": "s",
}
_PY_UDF_ACCUMULATORS = ("data sent to Python workers",
                        "data returned from Python workers")


def parse_event_log(lines) -> dict:
    """Jobs, stages, tasks and SQL executions from Spark event-log lines.

    Tolerates stages without ``Number of Tasks`` or ``Submission Time``:
    tasks are counted from task-end events, and no stage time is used.
    """
    jobs: dict = {}
    stages: dict = {}
    execs: dict = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # a torn last line while the log is still open
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id") or "",
                "sql": props.get("spark.sql.execution.id"),
                "start": ev.get("Submission Time"),
                "end": None,
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerJobEnd" and ev.get("Job ID") in jobs:
            jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev.get("Stage ID"), _new_stage())
            m = ev.get("Task Metrics") or {}
            st["tasks"] += 1
            st["cpu_ns"] += m.get("Executor CPU Time") or 0
            st["gc_ms"] += m.get("JVM GC Time") or 0
            st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written") or 0
            st["spill"] += (m.get("Memory Bytes Spilled") or 0) + (
                m.get("Disk Bytes Spilled") or 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            st = stages.setdefault(info.get("Stage ID"), _new_stage())
            st["completed"] = True
            for acc in info.get("Accumulables") or []:
                if acc.get("Name") in _PY_UDF_ACCUMULATORS:
                    try:
                        st["py_udf"] += int(acc.get("Value") or 0)
                    except (TypeError, ValueError):
                        pass
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            execs.setdefault(ev.get("executionId"), {})["start"] = ev.get("time")
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            execs.setdefault(ev.get("executionId"), {})["end"] = ev.get("time")
    return {"jobs": jobs, "stages": stages, "execs": execs}


def _new_stage() -> dict:
    return {"tasks": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
            "spill": 0, "py_udf": 0, "completed": False}


def spark_metrics(log: dict, keep) -> dict:
    """Sum the event log over jobs whose group satisfies ``keep(group)``."""
    jobs = {j: v for j, v in log["jobs"].items() if keep(v["group"])}
    stage_ids = {s for v in jobs.values() for s in v["stages"]
                 if s in log["stages"] and log["stages"][s]["tasks"]}
    st = [log["stages"][s] for s in stage_ids]
    exec_s = sum((v["end"] - v["start"]) / 1000.0 for v in jobs.values()
                 if v["start"] is not None and v["end"] is not None)
    # Driver-side planning: from each SQL execution's start to its first job.
    first_job: dict = {}
    for v in jobs.values():
        if v["sql"] is not None and v["start"] is not None:
            k = int(v["sql"])
            first_job[k] = min(first_job.get(k, v["start"]), v["start"])
    plan_s = sum(max(0, t - log["execs"][k]["start"]) / 1000.0
                 for k, t in first_job.items()
                 if log["execs"].get(k, {}).get("start") is not None)
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stage_ids),
        "spark.tasks": sum(s["tasks"] for s in st),
        "spark.plan_s": plan_s,
        "spark.exec_s": exec_s,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in st) / mb,
        "spark.spill_mb": sum(s["spill"] for s in st) / mb,
        "spark.python_udf_mb": sum(s["py_udf"] for s in st) / mb,
        "spark.jvm_gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
    }


class Tracer:
    def __init__(self, spark, workload: str, work: str):
        self.spark, self.workload, self.work = spark, workload, work
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.qid: str | None = None
        self.groups = [""]
        self.py4j = defaultdict(lambda: [0, 0.0])  # qid -> [calls, wait_s]
        self.storage_mb = 0.0
        self.twins: dict[str, float] = {}  # qid -> twin seconds
        self.queries: list[dict] = []
        self._own_calls = False

    # --- wrapping ---------------------------------------------------------
    def _wrap(self, owner, attr: str, span: str, outermost: bool = False,
              phase: str | None = None):
        raw = owner.__dict__[attr]
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer.qid is None or (outermost and tracer.stack and
                                      tracer.spans[tracer.stack[-1]].name == span):
                return fn(*a, **kw)
            ctx = tracer.phase(phase) if phase else contextlib.nullcontext()
            with ctx, tracer.span(span):
                return fn(*a, **kw)

        setattr(owner, attr, kind(wrapper) if kind else wrapper)

    def install(self, ta) -> None:
        from py4j import clientserver, java_gateway

        import tumult_analytics_spark.session as session_mod
        from tumult_analytics_spark.plans import expr

        S = ta.Session
        self._wrap(S.Builder, "build", "session.build")
        self._wrap(S, "evaluate", "session.evaluate")
        for name in ("create_view", "delete_view", "partition_and_create"):
            self._wrap(S, name, "session.view")
        self._wrap(session_mod, "rewrite", "plans.rewrite")
        self._wrap(session_mod, "compile_measurement", "plans.compile",
                   phase="compile")
        for cls in vars(expr).values():
            if isinstance(cls, type) and "schema" in cls.__dict__ and \
                    issubclass(cls, expr.QueryExpr):
                self._wrap(cls, "schema", "plans.validate", outermost=True)
        K = ta.KeySet
        for name in ("from_dict", "from_tuples", "from_dataframe", "__mul__",
                     "__sub__", "filter", "__getitem__"):
            if name in K.__dict__:
                self._wrap(K, name, "keyset.build", outermost=True)
        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            self._wrap_py4j(cls)

    def _wrap_py4j(self, cls) -> None:
        send = cls.send_command
        tracer = self

        @functools.wraps(send)
        def counted(conn, command, *a, **kw):
            if tracer.qid is None or tracer._own_calls:
                return send(conn, command, *a, **kw)
            t0 = time.perf_counter()
            try:
                return send(conn, command, *a, **kw)
            finally:
                rec = tracer.py4j[tracer.qid]
                rec[0] += 1
                rec[1] += time.perf_counter() - t0

        cls.send_command = counted

    # --- spans and job groups ----------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else -1
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.qid or ""))
        idx = len(self.spans) - 1
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[idx].end = time.perf_counter()

    def _set_group(self, group: str) -> None:
        self._own_calls = True
        try:
            sc = self.spark.sparkContext
            if group:
                sc.setJobGroup(group, group)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
        finally:
            self._own_calls = False

    @contextlib.contextmanager
    def phase(self, name: str):
        if self.qid is None:
            yield
            return
        group = f"{self.workload}:{self.qid}:{name}"
        self.groups.append(group)
        self._set_group(group)
        try:
            with self.span(f"phase.{name}"):
                yield
        finally:
            self.groups.pop()
            self._set_group(self.groups[-1])

    def begin_query(self, qid: str, op) -> None:
        self.qid = qid
        self.groups = [f"{self.workload}:{qid}:query"]
        self._set_group(self.groups[0])
        self._root = len(self.spans)
        self.spans.append(Span("query", time.perf_counter(), 0.0, -1, qid))
        self.stack = [self._root]

    def end_query(self, qid: str, op, seconds: float, ok: bool,
                  handle=None) -> None:
        self.spans[self._root].end = time.perf_counter()
        self.stack = []
        self.qid = None
        self._set_group("")
        result = handle[0] if isinstance(handle, tuple) else handle
        rows = len(result) if hasattr(result, "columns") and ok else 0
        self.queries.append({
            "qid": qid, "module": op.module, "s": seconds, "ok": ok,
            "finite": op.budget is not None, "rows": rows,
            "draws": rows * op.measures,
        })
        self._own_calls = True
        try:
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            mb = sum(i.memSize() + i.diskSize() for i in infos) / 2 ** 20
        finally:
            self._own_calls = False
        self.storage_mb = max(self.storage_mb, mb)

    def twin_first(self) -> bool:
        """Whether the next infinite-budget twin runs before its query:
        every other twin does."""
        return len(self.twins) % 2 == 1

    def run_twin(self, op, qid: str) -> None:
        """Time ``op``'s infinite-budget twin, untimed and outside every
        span; the noise stage is the query's time minus its twin's."""
        self._set_group(f"{self.workload}:{qid}:pair")
        try:
            t0 = time.perf_counter()
            op.twin()
            self.twins[qid] = time.perf_counter() - t0
        except Exception as e:  # the query then has no noise-stage share
            print(f"# {qid} twin {type(e).__name__}: {e}", file=sys.stderr)
        finally:
            self._set_group("")

    def reset(self) -> None:
        self.spans, self.queries, self.twins = [], [], {}
        self.py4j.clear()
        self.storage_mb = 0.0

    # --- report ---------------------------------------------------------------
    def _events(self) -> dict:
        lines = []
        # Spark writes a directory of rolling files per application.
        pattern = os.path.join(self.work, "events", "**", "*")
        for path in sorted(glob.glob(pattern, recursive=True)):
            if os.path.isfile(path):
                with open(path) as f:
                    lines.extend(f)
        return parse_event_log(lines)

    def metrics(self, modules: list[str]) -> dict:
        timed = {q["qid"] for q in self.queries}
        selfs = self_times(self.spans)
        dur: dict = defaultdict(float)
        self_s: dict = defaultdict(float)
        for sp, st in zip(self.spans, selfs):
            if sp.query in timed:
                if sp.parent < 0 or self.spans[sp.parent].name != sp.name:
                    dur[sp.name] += sp.duration
                self_s[sp.name] += st
        wl = self.workload + ":"

        def in_run(group, phase=None):
            parts = group.split(":")
            return (group.startswith(wl) and len(parts) == 3
                    and parts[1] in timed and parts[2] != "pair"
                    and (phase is None or parts[2] == phase))

        log = self._events()
        spark = spark_metrics(log, in_run)
        out = {k: (spark[k], u) for k, u in SPARK_METRICS.items()}
        out["spark.storage_mb"] = (self.storage_mb, "MB")
        q_s = sum(q["s"] for q in self.queries)
        calls = sum(self.py4j[q][0] for q in timed)
        wait = sum(self.py4j[q][1] for q in timed)
        out.update({
            "session.build_s": (dur["session.build"], "s"),
            "session.evaluate_self_s": (self_s["session.evaluate"], "s"),
            "session.view_s": (dur["session.view"], "s"),
            "keyset.build_s": (dur["keyset.build"], "s"),
            "keyset.groups": (sum(q["rows"] for q in self.queries
                                  if q["finite"]), "count"),
            "plans.validate_s": (dur["plans.validate"], "s"),
            "plans.rewrite_s": (dur["plans.rewrite"], "s"),
            "plans.compile_s": (dur["plans.compile"], "s"),
            "plans.compile_jobs": (spark_metrics(
                log, lambda g: in_run(g, "compile"))["spark.jobs"], "count"),
            "noise.draws": (sum(q["draws"] for q in self.queries), "count"),
            "noise.stage_s": (sum(q["s"] - self.twins[q["qid"]]
                                  for q in self.queries
                                  if q["ok"] and q["qid"] in self.twins), "s"),
            "py4j.calls": (calls, "count"),
            "py4j.wait_s": (wait, "s"),
            "driver.python_s": (q_s - wait, "s"),
        })
        module_of = {q["qid"]: q["module"] for q in self.queries}
        by_module: dict = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            if module_of.get(sp.query) and sp.name.startswith("phase."):
                by_module[module_of[sp.query]][sp.name] += sp.duration
        for m in modules:
            keys = {q["qid"] for q in self.queries if q["module"] == m}
            jobs = spark_metrics(log, lambda g: in_run(g, "build")
                                 and g.split(":")[1] in keys)["spark.jobs"]
            out[f"operators.{m}.build_s"] = (by_module[m]["phase.build"], "s")
            out[f"operators.{m}.build_jobs"] = (jobs, "count")
            out[f"operators.{m}.execute_s"] = (by_module[m]["phase.execute"], "s")
        return out
