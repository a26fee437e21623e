"""Semantics of the one-shuffle rewrite diff
(`aligned_spark.sources.cdc.diff_rewrite`) against the formulations it
replaced: two whole-row ``exceptAll`` passes when keyless, four
filtered copies of the keyed full-outer join when keyed."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from aligned_spark.sources.cdc import diff_rewrite, tag_changes

COLS = ["k", "v", "s"]
SCHEMA = "k long, v double, s string"

OLD = [
    (1, 1.0, "a"),
    (1, 1.0, "a"),  # duplicate row, one copy survives
    (1, 1.0, "a"),
    (2, 2.0, "b"),  # updated
    (3, None, "c"),  # NULL value, unchanged
    (None, 4.0, "d"),  # NULL key, unchanged
    (None, 5.0, "e"),  # NULL key, deleted
    (None, None, None),  # all-NULL row, one of two copies deleted
    (None, None, None),
    (6, float("nan"), "n"),  # NaN value, unchanged
    (7, 7.0, "g"),  # deleted
]
NEW = [
    (1, 1.0, "a"),
    (2, 20.0, "b"),
    (3, None, "c"),
    (None, 4.0, "d"),
    (None, None, None),
    (6, float("nan"), "n"),
    (8, 8.0, "h"),  # inserted
    (8, 8.0, "h"),  # inserted twice
]


def _bag(df):
    return Counter(
        tuple("nan" if x != x else x for x in r) for r in df.collect()
    )


def _frames(spark):
    return (
        spark.createDataFrame(OLD, SCHEMA),
        spark.createDataFrame(NEW, SCHEMA),
    )


def test_keyless_diff_matches_two_except_all(spark):
    old, new = _frames(spark)
    want = tag_changes(
        old.exceptAll(new), COLS, "delete", "_v", 5
    ).unionByName(tag_changes(new.exceptAll(old), COLS, "insert", "_v", 5))
    got = diff_rewrite(old, new, COLS, None, "_v", 5)
    assert got.columns == [*COLS, "_change_type", "_v"]
    assert _bag(got) == _bag(want)
    assert Counter(r._change_type for r in got.collect()) == {
        "delete": 6,
        "insert": 3,
    }


def test_keys_covering_every_column_take_the_keyless_diff(spark):
    old, new = _frames(spark)
    want = diff_rewrite(old, new, COLS, None, "_v", 5)
    assert _bag(diff_rewrite(old, new, COLS, COLS, "_v", 5)) == _bag(want)


def _four_copy_keyed_diff(old, new, keys, cols, version):
    """The keyed diff as it was written before: four filtered copies
    of one full-outer join."""
    rest = [c for c in cols if c not in keys]
    o = old.select(*keys, F.struct(*rest).alias("__o"))
    n = new.select(*keys, F.struct(*rest).alias("__n"))
    j = o.join(n, on=keys, how="full_outer")
    changed = j.filter(
        F.col("__o").isNotNull()
        & F.col("__n").isNotNull()
        & ~F.col("__o").eqNullSafe(F.col("__n"))
    )
    pieces = [
        (changed.select(*keys, "__o.*"), "update_preimage"),
        (changed.select(*keys, "__n.*"), "update_postimage"),
        (j.filter(F.col("__n").isNull()).select(*keys, "__o.*"), "delete"),
        (j.filter(F.col("__o").isNull()).select(*keys, "__n.*"), "insert"),
    ]
    out = None
    for df, ctype in pieces:
        df = tag_changes(df, cols, ctype, "_v", version)
        out = df if out is None else out.unionByName(df)
    return out


@pytest.mark.parametrize("keys", [["k"], ["k", "s"]])
def test_keyed_diff_matches_four_copy_join(spark, keys):
    old, new = _frames(spark)
    got = diff_rewrite(old, new, COLS, keys, "_v", 9)
    assert got.columns == [*COLS, "_change_type", "_v"]
    want = _four_copy_keyed_diff(old, new, keys, COLS, 9)
    assert _bag(got) == _bag(want)


def test_keyed_diff_pairs_updates(spark):
    old, new = _frames(spark)
    got = diff_rewrite(old, new, COLS, ["k"], "_v", 9)
    rows = {
        (r.k, r._change_type): r.v
        for r in got.collect()
        if r.k in (2, 7, 8)
    }
    assert rows == {
        (2, "update_preimage"): 2.0,
        (2, "update_postimage"): 20.0,
        (7, "delete"): 7.0,
        (8, "insert"): 8.0,
    }
