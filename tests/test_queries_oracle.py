"""Differential test: every registered query vs its DuckDB oracle.

This mirrors the driver's t2 correctness gate (row count + schema +
order-insensitive values) at sf0.001 so regressions surface in `pytest`
before a round ends.
"""

from __future__ import annotations

import pytest

from extract_transform_load_template_multidb_spark.queries import (
    all_oracles,
    all_queries,
)
from tests.oracle_util import compare, duck_connection

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


def _assert_conf_unchanged(spark, before: dict, when: str) -> None:
    """Building or running a query must leave session conf as it found
    it: the session is shared with the caller's other jobs."""
    after = spark.conf.getAll
    changed = {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }
    assert not changed, f"session conf changed {when}: {changed}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    before = spark.conf.getAll
    df = QUERIES[name](spark, sf_dir)
    _assert_conf_unchanged(spark, before, "by the build")
    compare(df, duck, ORACLES[name])
    _assert_conf_unchanged(spark, before, "by the action")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_query_runs_rows_only(name, spark, sf_dir):
    before = spark.conf.getAll
    df = QUERIES[name](spark, sf_dir)
    _assert_conf_unchanged(spark, before, "by the build")
    assert df.count() >= 0
    _assert_conf_unchanged(spark, before, "by the action")


def test_two_threads_share_one_session(spark, sf_dir, duck):
    """Two threads run different oracle queries on one session, three
    times each; every result must stay hash-green."""
    from concurrent.futures import ThreadPoolExecutor

    def run(name):
        con = duck.cursor()  # a DuckDB connection is not thread-safe
        try:
            for _ in range(3):
                compare(QUERIES[name](spark, sf_dir), con, ORACLES[name])
        finally:
            con.close()

    before = spark.conf.getAll
    names = ["q1_pricing_summary", "q3_shipping_priority"]
    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [pool.submit(run, n) for n in names]:
            fut.result(timeout=900)
    _assert_conf_unchanged(spark, before, "by the threads")


def test_ohlc_rollup_tiebreak_and_nonfinite(spark):
    """Duplicate timestamps break ties on event_id; NaN/inf rows are
    excluded from every OHLC output column."""
    import math

    from pyspark.sql import functions as F

    from extract_transform_load_template_multidb_spark.operators import (
        timeseries as TS,
    )

    rows = [
        # same hour bucket, dup ts at the open: id 1 wins open, id 2 is
        # just a candidate; inf/NaN must not poison high/low/sum.
        (1, "2024-01-01 10:00:05", "a", 5.0),
        (2, "2024-01-01 10:00:05", "a", 9.0),
        (3, "2024-01-01 10:30:00", "a", float("inf")),
        (4, "2024-01-01 10:40:00", "a", float("nan")),
        (5, "2024-01-01 10:59:59", "a", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = TS.ohlc_rollup(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["open"] == 5.0  # id 1 beats id 2 at the same ts
    assert r["close"] == 1.0
    assert r["high"] == 9.0 and r["low"] == 1.0
    assert r["n_events"] == 3
    assert math.isclose(r["sum_value"], 15.0)
