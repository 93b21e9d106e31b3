"""bench.py's compact per-key line."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from bench import _queries_compact_line  # noqa: E402


def test_queries_compact_line_has_one_value_per_key():
    keys = sorted(entry.queries())
    # Reverse insertion order and a failed key: the line must still follow
    # sorted key order and keep the -1 failure marker.
    timings = {k: 1.23456 + i for i, k in enumerate(reversed(keys))}
    timings[keys[0]] = -1.0
    line = _queries_compact_line(timings)
    parsed = json.loads(line)
    assert parsed["metric"] == "queries_compact"
    assert len(parsed["values"]) == len(keys)
    assert parsed["values"] == [round(timings[k], 3) for k in keys]
    assert "\n" not in line
    # With realistic sub-10 s values the line stays well inside a
    # 2,000-char tail next to the headline.
    small = _queries_compact_line({k: 1.234 for k in keys})
    assert len(small) < 1400, len(small)
