"""``utils.nullsafe_join``, the one null-safe join builder, against a plain
Python reference: null keys match null keys (reference
``join_on_nulls=True``), a two-column key with one null component matches
only the same partial key, and a shared non-key column comes out as
``{name}_left`` / ``{name}_right``."""

import pytest

from tumult_analytics_spark.utils import nullsafe_join

KEYS = ["k1", "k2"]
LEFT = [
    ("a", 1, 10, "p"),
    ("a", None, 11, "q"),
    (None, 1, 12, "r"),
    (None, None, 13, "s"),
    ("b", 2, 14, "t"),
]
RIGHT = [
    ("a", 1, 20, "u"),
    ("a", None, 21, "v"),
    (None, None, 22, "w"),
    (None, None, 23, "y"),
    ("c", 3, 24, "z"),
]


def _reference(how):
    out = []
    for l in LEFT:
        matches = [r for r in RIGHT if r[:2] == l[:2]]
        if how == "left_semi":
            out += [l] if matches else []
        elif how == "left_anti":
            out += [] if matches else [l]
        else:
            if not matches and how == "left":
                matches = [(None, None, None, None)]
            out += [l + (r[2], r[3]) for r in matches]
    return out


def _sort_key(row):
    return [(v is None, v if v is not None else 0) for v in row]


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_nullsafe_join_matches_reference(spark, how):
    left = spark.createDataFrame(LEFT, "k1 string, k2 long, x long, a string")
    right = spark.createDataFrame(RIGHT, "k1 string, k2 long, x long, b string")
    out = nullsafe_join(left, right, KEYS, how=how)
    if how in ("left_semi", "left_anti"):
        assert out.columns == ["k1", "k2", "x", "a"]
    else:
        assert out.columns == ["k1", "k2", "x_left", "a", "x_right", "b"]
    got = sorted(map(tuple, out.collect()), key=_sort_key)
    assert got == sorted(_reference(how), key=_sort_key)
