"""Stage parsing of ``tools/diag_eventlog.py`` on synthetic event-log
lines, including stages that lack optional fields."""

import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)

from diag_eventlog import _format_stage, _parse_stages  # noqa: E402


def _stage(sid, **info):
    return json.dumps(
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, **info},
        }
    )


def test_complete_stage_metrics():
    line = _stage(
        3,
        **{
            "Stage Name": "collect at x.py:1",
            "Number of Tasks": 4,
            "Submission Time": 1_700_000_000_000,
            "Completion Time": 1_700_000_002_500,
            "Accumulables": [
                {"Name": "internal.metrics.executorCpuTime", "Value": 3 * 10**9},
                {"Name": "internal.metrics.shuffle.write.bytesWritten",
                 "Value": 5 << 20},
                {"Name": "internal.metrics.jvmGCTime", "Value": "not-a-number"},
            ],
        },
    )
    s = _parse_stages(["garbage line", line])[3]
    assert s["wall_s"] == 2.5
    assert s["tasks"] == 4
    assert s["cpu_s"] == 3 and s["sh_write_mb"] == 5 and s["gc_s"] == 0
    assert s["name"] == "collect at x.py:1"
    assert "wall     2.50s tasks    4" in _format_stage(3, s)


def test_missing_fields_do_not_raise_or_report_epoch_times():
    lines = [
        _stage(0),  # no tasks, no times, no accumulables
        _stage(1, **{"Submission Time": 1_700_000_000_000}),
        _stage(2, **{"Completion Time": 1_700_000_000_000}),
        json.dumps({"Event": "SparkListenerJobStart"}),
    ]
    stages = _parse_stages(lines)
    assert sorted(stages) == [0, 1, 2]
    for s in stages.values():
        assert s["tasks"] == 0
        assert s["wall_s"] is None
        assert s["sh_read_mb"] == 0 and s["run_s"] == 0
    # the report lines format without a TypeError
    line = _format_stage(0, stages[0])
    assert "wall         - tasks    0" in line
