"""SCD2 operators: history building (oracle-checked via the registry) and
snapshot merge semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from extract_transform_load_template_multidb_spark.operators import scd

D = dt.date


def _scd2(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, attr string, valid_from date, valid_to date, "
        "is_current boolean"
    )


def test_scd2_from_history_runs_and_intervals(spark):
    hist = spark.createDataFrame(
        [
            (1, "A", D(2024, 1, 1)),
            (1, "A", D(2024, 1, 5)),
            (1, "B", D(2024, 2, 1)),
            (1, "B", D(2024, 2, 1)),  # duplicate row: same run, no split
            (1, "A", D(2024, 3, 1)),  # value returns → NEW run, not merged
            (2, "X", D(2024, 1, 1)),
        ],
        "k bigint, attr string, ts date",
    )
    out = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd.scd2_from_history(hist, "k", "attr", "ts").collect()
    )
    assert out == [
        (1, "A", D(2024, 1, 1), D(2024, 2, 1), False),
        (1, "A", D(2024, 3, 1), None, True),
        (1, "B", D(2024, 2, 1), D(2024, 3, 1), False),
        (2, "X", D(2024, 1, 1), None, True),
    ]


def test_scd2_merge_closes_opens_and_inserts(spark):
    target = _scd2(
        spark,
        [
            (1, "A", D(2024, 1, 1), D(2024, 2, 1), False),  # history row
            (1, "B", D(2024, 2, 1), None, True),
            (2, "X", D(2024, 1, 1), None, True),
        ],
    )
    snapshot = spark.createDataFrame(
        [(1, "C"), (2, "X"), (3, "NEW")], "k bigint, attr string"
    )
    out = scd.scd2_merge(
        target, snapshot, "k", "attr", F.lit(D(2024, 3, 1))
    )
    got = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in out.collect()
    )
    assert got == [
        (1, "A", D(2024, 1, 1), D(2024, 2, 1), False),  # untouched history
        (1, "B", D(2024, 2, 1), D(2024, 3, 1), False),  # closed
        (1, "C", D(2024, 3, 1), None, True),  # new version
        (2, "X", D(2024, 1, 1), None, True),  # unchanged current
        (3, "NEW", D(2024, 3, 1), None, True),  # brand-new key
    ]


def test_scd2_merge_is_stable_when_snapshot_matches(spark):
    """A snapshot equal to the current state must be a no-op."""
    target = _scd2(
        spark,
        [
            (1, "B", D(2024, 2, 1), None, True),
            (2, "X", D(2024, 1, 1), None, True),
        ],
    )
    snapshot = spark.createDataFrame(
        [(1, "B"), (2, "X")], "k bigint, attr string"
    )
    out = scd.scd2_merge(target, snapshot, "k", "attr", F.lit(D(2024, 3, 1)))
    assert sorted(
        (r["k"], r["attr"], r["is_current"]) for r in out.collect()
    ) == [(1, "B", True), (2, "X", True)]


def test_scd2_merge_null_attr_transitions(spark):
    """NULL-attribute rows must close/open correctly (null-safe compare),
    and a NULL value IN the snapshot is a real change, not 'key absent'."""
    target = _scd2(
        spark,
        [
            (1, None, D(2024, 1, 1), None, True),  # NULL → 'X': change
            (2, "Y", D(2024, 1, 1), None, True),   # 'Y' → NULL: change
            (3, None, D(2024, 1, 1), None, True),  # NULL → NULL: no-op
        ],
    )
    snapshot = spark.createDataFrame(
        [(1, "X"), (2, None), (3, None)], "k bigint, attr string"
    )
    out = scd.scd2_merge(target, snapshot, "k", "attr", F.lit(D(2024, 2, 1)))
    got = sorted(
        (
            (r["k"], r["attr"], r["valid_to"], r["is_current"])
            for r in out.collect()
        ),
        key=lambda t: (t[0], t[1] or "", str(t[2])),
    )
    assert got == [
        (1, None, D(2024, 2, 1), False),
        (1, "X", None, True),
        (2, None, None, True),
        (2, "Y", D(2024, 2, 1), False),
        (3, None, None, True),
    ]
