"""Unit tests of the benchmark's own logic (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
from fractions import Fraction

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402
from checks import Budget, Measure  # noqa: E402


# --- tail percentile ---------------------------------------------------------

def test_tail_needs_eleven_samples():
    assert stats.tail([1.0] * 10) is None
    value, pct, n = stats.tail([2.0] * 11)
    assert (value, n) == (pytest.approx(2.0), 11)
    assert pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n", [11, 14, 24, 28, 40, 137])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    xs = [float(i) for i in range(n)][::-1]  # unsorted input
    value, pct, count = stats.tail(xs)
    assert count == n
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    # The estimate sits near the order statistic x_(n-10), which has
    # exactly ten samples beyond it.
    assert abs(value - (n - 11)) < 1.0


def test_tail_of_forty_is_p75():
    _, pct, _ = stats.tail([float(i) for i in range(1, 41)])
    assert pct == 75.0


def test_quantile_is_smooth_and_ordered():
    xs = [0.2, 0.3, 0.3, 1.0, 1.1, 1.2, 1.45, 1.5, 2.0, 3.0, 3.3, 4.1]
    qs = [stats.quantile(xs, q) for q in (0.25, 0.5, 0.64, 0.9)]
    assert qs == sorted(qs)
    assert min(xs) < qs[0] and qs[-1] < max(xs)
    # Moving one sample across the quantile shifts the estimate a little,
    # not by the gap between neighbouring order statistics.
    bumped = xs[:7] + [1.3] + xs[8:]
    assert abs(stats.quantile(bumped, 0.64) - qs[2]) < 0.1
    assert stats.quantile([5.0, 1.0, 3.0], 0.5) == pytest.approx(3.0)


# --- span self time ----------------------------------------------------------

def _span(name, start, end, parent=-1):
    return stats.Span(name, start, end, parent, "q")


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("evaluate", 0.0, 10.0),
        _span("compile", 1.0, 3.0, 0),
        _span("validate", 2.0, 5.0, 0),   # overlaps compile: union is [1, 5]
        _span("late", 8.0, 12.0, 0),      # clipped to the parent: [8, 10]
        _span("inner", 1.5, 2.5, 1),      # grandchild: only its parent's time
    ]
    self_s = stats.self_times(spans)
    assert self_s[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_s[1] == pytest.approx(2.0 - 1.0)
    assert self_s[2] == pytest.approx(3.0)
    assert self_s[4] == pytest.approx(1.0)


def test_self_time_ignores_children_outside_parent():
    spans = [_span("a", 0.0, 1.0), _span("b", 2.0, 3.0, 0)]
    assert stats.self_times(spans)[0] == pytest.approx(1.0)


# --- seeded query mixes ------------------------------------------------------

def test_same_seed_same_mix():
    for plan in (W.release_plan, W.pipeline_plan):
        assert plan(7, 0) == plan(7, 0)
        assert plan(7, 1) == plan(7, 1)
        assert plan(7, 0) != plan(8, 0)


def test_every_cycle_holds_every_shape_once():
    for seed in range(5):
        assert sorted(n for n, _ in W.release_plan(seed, 0)) == sorted(
            W.RELEASE_SHAPES)
        assert sorted(W.pipeline_plan(seed, 3)) == sorted(W.PIPELINE_KEYS)


def test_release_budgets_respect_shape_kinds():
    for seed in range(20):
        for name, b in W.release_plan(seed, 0):
            assert b.kind in W.RELEASE_SHAPES[name].kinds


# --- correctness checks ------------------------------------------------------

def _exact():
    return pd.DataFrame({"flag": ["A", "N", "R"], "count": [1000, 2000, 3000]})


COUNT = [Measure("count", 1.0)]
EPS1 = Budget("pure", 1.0)


def test_release_within_tail_bound_passes():
    noisy = _exact().assign(count=[1003, 1995, 3000])
    assert checks.check_release(noisy, _exact(), COUNT, EPS1) == []


def test_release_rejects_perturbed_value():
    bound = COUNT[0].bound(EPS1)
    noisy = _exact().assign(count=[1000, 2000 + 2 * bound, 3000])
    errors = checks.check_release(noisy, _exact(), COUNT, EPS1)
    assert errors and "exceeds tail bound" in errors[0]


def test_release_rejects_missing_and_extra_keys():
    assert checks.check_release(_exact().iloc[:2], _exact(), COUNT, EPS1)
    extra = pd.concat([_exact(), pd.DataFrame({"flag": ["Z"], "count": [1]})])
    assert checks.check_release(extra, _exact(), COUNT, EPS1)
    # A group-selecting shape may omit keys but never add one.
    assert checks.check_release(_exact().iloc[:2], _exact(), COUNT, EPS1,
                                subset=True) == []
    assert checks.check_release(extra, _exact(), COUNT, EPS1, subset=True)


def test_ranged_measure_rejects_out_of_range():
    m = [Measure("avg", lo=0.0, hi=50.0)]
    exact = pd.DataFrame({"k": [1], "avg": [25.0]})
    assert checks.check_release(exact.assign(avg=[25.5]), exact, m, EPS1) == []
    assert checks.check_release(exact.assign(avg=[51.0]), exact, m, EPS1)


def test_zcdp_bound_uses_rho():
    loose = Measure("c", 1.0).bound(Budget("zcdp", 0.125))
    tight = Measure("c", 1.0).bound(Budget("zcdp", 2.0))
    assert loose == pytest.approx(4 * tight)


class _Pure:
    def __init__(self, eps):
        self.epsilon = Fraction(eps)


class _Approx(_Pure):
    def __init__(self, eps, delta):
        super().__init__(eps)
        self.delta = Fraction(delta)


def test_budget_check_accepts_exact_total():
    spent = [Budget("pure", 0.5), Budget("pure", 2.0), Budget("pure", 1.0)]
    assert checks.check_budget(_Pure(Fraction(10) - Fraction(7, 2)),
                               Budget("pure", 10.0), spent) == []


def test_budget_check_rejects_wrong_total():
    spent = [Budget("pure", 0.5), Budget("pure", 2.0)]
    assert checks.check_budget(_Pure(8), Budget("pure", 10.0), spent)
    # A delta that should have been zeroed (or charged) is caught too.
    assert checks.check_budget(_Approx(0, 1e-6), Budget("approx", 1.0, 1e-6),
                               [Budget("approx", 1.0, 1e-6)])


def test_pipeline_rows_compare_order_insensitively():
    rows = [("b", 2.0000001), ("a", 1.0)]
    oracle = [(1.0, "a"), (2.0, "b")]
    assert checks.check_rows(rows, ["k", "v"], oracle, ["v", "k"]) == []
    assert checks.check_rows(rows, ["k", "v"], [(1.0, "a"), (2.5, "b")],
                             ["v", "k"])


# --- noise-stage pairing ------------------------------------------------------

class _FakeContext:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def test_twins_alternate_and_failures_are_skipped():
    tracer = tracing.Tracer(_FakeSpark(), "w", "unused")
    order = []
    for i in range(4):
        order.append(tracer.twin_first())
        tracer.run_twin(W.Op("q", run=None, twin=lambda: None), f"c0.{i}")
    assert order == [False, True, False, True]

    def broken():
        raise RuntimeError("twin failed")

    tracer.run_twin(W.Op("q", run=None, twin=broken), "c0.9")
    assert "c0.9" not in tracer.twins and len(tracer.twins) == 4


# --- event log ---------------------------------------------------------------

def test_event_log_tolerates_missing_stage_fields():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "w:q0:query",
                                             "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerSQLExecutionStart", "executionId": 3,
         "time": 90},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written":
                                                    1024 * 1024}}},
        # A completed stage with neither Number of Tasks nor Submission Time.
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Accumulables": [
             {"Name": "data sent to Python workers", "Value": "2097152"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 350},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other:q0:query"}},
    ]
    log = tracing.parse_event_log([json.dumps(e) for e in events] + ["{torn"])
    m = tracing.spark_metrics(log, lambda g: g.startswith("w:"))
    assert m["spark.jobs"] == 1
    assert m["spark.stages"] == 1 and m["spark.tasks"] == 1
    assert m["spark.exec_s"] == pytest.approx(0.25)
    assert m["spark.plan_s"] == pytest.approx(0.01)
    assert m["spark.executor_cpu_s"] == pytest.approx(2.0)
    assert m["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["spark.python_udf_mb"] == pytest.approx(2.0)
