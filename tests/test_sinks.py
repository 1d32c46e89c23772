"""Run-twice idempotency matrix for the four write semantics (SURVEY §2.3).

The reference's Method-2 (retention delete + blind append) is NOT idempotent
— re-running duplicates the recent window — while W7 (window overwrite) is.
These tests pin both behaviors exactly.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import Row, functions as F

from extract_transform_load_template_multidb_spark import catalog
from extract_transform_load_template_multidb_spark.catalog import read_files
from extract_transform_load_template_multidb_spark.session import session_key
from extract_transform_load_template_multidb_spark.sinks import ParquetSink

CUTOFF = dt.datetime(2024, 3, 1)


def _day(d: int) -> dt.datetime:
    return dt.datetime(2024, 2, 1) + dt.timedelta(days=d)


@pytest.fixture()
def history(spark):
    """Target seeded with 10 old rows (before cutoff) + 5 recent."""
    rows = [
        Row(id=i, date_trans=_day(i), v=float(i)) for i in range(10)
    ] + [
        Row(id=100 + i, date_trans=CUTOFF + dt.timedelta(days=i), v=1.0)
        for i in range(5)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture()
def window_batch(spark):
    """Re-extracted recent window: same 5 recent ids, new values."""
    rows = [
        Row(id=100 + i, date_trans=CUTOFF + dt.timedelta(days=i), v=2.0)
        for i in range(5)
    ]
    return spark.createDataFrame(rows)


def test_append_duplicates_on_rerun(spark, history, tmp_path):
    sink = ParquetSink(os.path.join(tmp_path, "t"))
    sink.append(history)
    sink.append(history)
    assert spark.read.parquet(sink.path).count() == 30


def test_overwrite_idempotent(spark, history, tmp_path):
    sink = ParquetSink(os.path.join(tmp_path, "t"))
    sink.overwrite(history)
    sink.overwrite(history)
    out = spark.read.parquet(sink.path)
    assert out.count() == 15


def test_retention_append_reference_semantics(spark, history, window_batch, tmp_path):
    """Old rows are trimmed; rerun DUPLICATES the window (reference W3+W5)."""
    sink = ParquetSink(os.path.join(tmp_path, "t"))
    sink.overwrite(history)
    sink.retention_append(window_batch, "date_trans", CUTOFF, spark)
    out1 = spark.read.parquet(sink.path)
    # 5 retained recent + 5 appended; the 10 old rows deleted
    assert out1.count() == 10
    assert out1.filter(F.col("date_trans") < F.lit(CUTOFF)).count() == 0
    # Re-run: the recent window duplicates — the documented non-idempotency.
    sink.retention_append(window_batch, "date_trans", CUTOFF, spark)
    assert spark.read.parquet(sink.path).count() == 15


def test_window_overwrite_idempotent(spark, history, window_batch, tmp_path):
    """W7: recent window replaced in place; rerun is a no-op (idempotent)."""
    sink = ParquetSink(os.path.join(tmp_path, "t"))
    sink.overwrite(history)
    for _ in range(2):
        sink.window_overwrite(window_batch, "date_trans", CUTOFF, spark)
        out = spark.read.parquet(sink.path)
        assert out.count() == 15  # 10 old kept + 5 window rows
        recent = out.filter(F.col("date_trans") >= F.lit(CUTOFF))
        assert recent.count() == 5
        assert recent.agg(F.min("v")).collect()[0][0] == 2.0


def test_parquet_upsert_key_collision(spark, history, tmp_path):
    sink = ParquetSink(os.path.join(tmp_path, "t"))
    sink.overwrite(history)
    updates = spark.createDataFrame(
        [Row(id=0, date_trans=_day(0), v=99.0), Row(id=999, date_trans=_day(1), v=7.0)]
    )
    sink.upsert(updates, ("id",), spark)
    out = spark.read.parquet(sink.path)
    assert out.count() == 16  # 15 - 1 replaced + 2 (1 update, 1 insert)
    assert out.filter(F.col("id") == 0).collect()[0]["v"] == 99.0
    assert out.filter(F.col("id") == 999).count() == 1


def test_upsert_with_duplicate_delta_keys_matches_distinct_formulation(
    spark, history, tmp_path
):
    """The anti join no longer de-duplicates the delta's keys; the target
    must still equal ``target ⋉̸ distinct(delta keys) ∪ delta``."""
    sink = ParquetSink(os.path.join(tmp_path, "t"))
    sink.overwrite(history)
    delta = spark.createDataFrame(
        [
            Row(id=0, date_trans=_day(0), v=99.0),
            Row(id=0, date_trans=_day(0), v=98.0),
            Row(id=3, date_trans=_day(3), v=33.0),
            Row(id=999, date_trans=_day(1), v=7.0),
            Row(id=999, date_trans=_day(1), v=7.0),
        ]
    )
    before = spark.read.parquet(sink.path)
    before = spark.createDataFrame(before.collect(), before.schema)
    expected = before.join(
        delta.select("id").distinct(), ["id"], "left_anti"
    ).unionByName(delta)
    expected_rows = sorted(expected.collect())

    sink.upsert(delta, ("id",), spark)
    assert sorted(spark.read.parquet(sink.path).collect()) == expected_rows


def test_window_overwrite_keeps_history_of_a_marker_less_partitioned_target(
    spark, tmp_path
):
    """pyarrow's ``write_to_dataset`` leaves only ``month=…`` directories,
    no ``_SUCCESS``: the target still exists, and its rows before the
    cutoff must survive the window reload."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    pq.write_to_dataset(
        pa.table(
            {
                "id": pa.array(range(20), pa.int64()),
                "d": pa.array(range(20), pa.int32()),
                "month": pa.array([i // 10 for i in range(20)], pa.int32()),
            }
        ),
        path,
        partition_cols=["month"],
    )
    assert sorted(os.listdir(path)) == ["month=0", "month=1"]

    sink = ParquetSink(path, partition_by=("month",))
    batch = spark.createDataFrame(
        [(100 + i, 15 + i, 1) for i in range(5)], "id bigint, d int, month int"
    )
    sink.window_overwrite(batch, "d", 15, spark)
    out = spark.read.parquet(path)
    assert sorted(r.id for r in out.filter("d < 15").collect()) == list(range(15))
    assert sorted(r.id for r in out.filter("d >= 15").collect()) == list(
        range(100, 105)
    )


# -- the schema a whole-target write records -----------------------------------
#
# Each write below replaces the whole target, so it records its frame's
# schema (``catalog.record_schema``); the next target read must be a memo hit
# that runs no job and equals a fresh inference. The frames carry non-null,
# nested, decimal, TIMESTAMP_NTZ and field-metadata columns.


def _rich(spark, first: int, n: int):
    return spark.range(first, first + n).select(
        "id",
        F.date_add(F.lit(dt.date(2024, 1, 1)), F.col("id").cast("int")).alias("d"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("s"),
        F.array(F.col("id"), F.lit(2)).alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        (F.col("id") / 3).cast("decimal(12,3)").alias("dec"),
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz").alias("ntz"),
        F.col("id").alias("tagged", metadata={"comment": "kept"}),
    )


def _partials(spark, first: int, n: int):
    return spark.range(first, first + n).select(
        (F.col("id") % 3).alias("g"), F.lit(1).alias("n")
    )


_CUT = dt.date(2024, 1, 6)
_WHOLE_TARGET_WRITES = {
    # name: (frame factory, write)
    "overwrite": (_rich, lambda sink, df, spark: sink.overwrite(df)),
    "window_overwrite": (
        _rich,
        lambda sink, df, spark: sink.window_overwrite(df, "d", _CUT, spark),
    ),
    "retention_append": (
        _rich,
        lambda sink, df, spark: sink.retention_append(df, "d", _CUT, spark),
    ),
    "upsert": (_rich, lambda sink, df, spark: sink.upsert(df, ("id",), spark)),
    "merge_aggregate": (
        _partials,
        lambda sink, df, spark: sink.merge_aggregate(df, ("g",), spark),
    ),
}


@pytest.mark.parametrize("mode", sorted(_WHOLE_TARGET_WRITES))
def test_whole_target_write_records_what_inference_returns(
    spark, tmp_path, count_jobs, mode
):
    frame, write = _WHOLE_TARGET_WRITES[mode]
    sink = ParquetSink(os.path.join(tmp_path, "t"))
    # The first write creates the target, the second rewrites it (_swap).
    write(sink, frame(spark, 0, 10), spark)
    write(sink, frame(spark, 5, 10), spark)

    got, jobs = count_jobs(lambda: read_files(spark, sink.path))
    assert jobs == 0
    fresh = spark.read.parquet(sink.path)
    assert got.schema.json() == fresh.schema.json()
    assert sorted(map(str, got.collect())) == sorted(map(str, fresh.collect()))


def test_append_records_no_schema(spark, tmp_path):
    """The files an append leaves behind may disagree with the appended
    frame, so nothing is recorded and the next read infers."""
    sink = ParquetSink(os.path.join(tmp_path, "t"))
    sink.overwrite(spark.createDataFrame([(1, "a")], "id bigint, s string"))
    sink.append(
        spark.createDataFrame([(2, "b", 1.5)], "id bigint, s string, extra double")
    )
    stamp = catalog._flat_stamp(sink.path)
    key = (session_key(spark), "parquet", sink.path, (), stamp)
    assert key not in catalog._SCHEMA_MEMO
    got = read_files(spark, sink.path)
    assert got.schema.json() == spark.read.parquet(sink.path).schema.json()


def test_partitioned_write_records_no_schema(spark, tmp_path):
    sink = ParquetSink(os.path.join(tmp_path, "t"), partition_by=("g",))
    sink.overwrite(_partials(spark, 0, 0))
    assert sink.path not in {key[2] for key in catalog._SCHEMA_MEMO}


def test_bigquery_sink_disposition_mapping():
    """Reference W4/W5: overwrite → WRITE_TRUNCATE, append → WRITE_APPEND
    (MySQL-to-BigQuery-Method-1.py:76-79), explicit disposition wins."""
    from extract_transform_load_template_multidb_spark.sinks.bigquery import (
        BigQuerySink,
    )

    sink = BigQuerySink(table="your_dataset.your_table", temp_gcs_bucket="b")
    assert sink.writer_options("overwrite")["writeDisposition"] == (
        "WRITE_TRUNCATE"
    )
    assert sink.writer_options("append")["writeDisposition"] == "WRITE_APPEND"
    assert sink.writer_options("append")["temporaryGcsBucket"] == "b"

    pinned = BigQuerySink(
        table="d.t", direct=True, write_disposition="WRITE_EMPTY"
    )
    opts = pinned.writer_options("append")
    assert opts["writeDisposition"] == "WRITE_EMPTY"
    assert opts["writeMethod"] == "direct"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sink.writer_options("merge")
    with _pytest.raises(ValueError):
        BigQuerySink(table="d.t", write_disposition="NOPE").writer_options(
            "append"
        )


def test_bigquery_retention_delete_sql():
    """Reference W6 cleanup statement shape
    (MySQL-to-BigQuery-Method-2.py:75-78)."""
    from extract_transform_load_template_multidb_spark.sinks.bigquery import (
        retention_delete_sql,
    )

    sql = retention_delete_sql("your_dataset.your_table", "date_trans", 30)
    assert sql == (
        "DELETE FROM `your_dataset.your_table` WHERE date_trans < "
        "DATE_SUB(CURRENT_DATE(), INTERVAL 30 DAY)"
    )


def test_bigquery_source_option_construction():
    """Reference S1/S2 extract spec on the public connector surface."""
    import pytest as _pytest

    from extract_transform_load_template_multidb_spark.sources.bigquery import (
        BigQuerySource,
    )

    t = BigQuerySource(table="your_dataset.your_table")
    assert t.reader_options() == {"table": "your_dataset.your_table"}

    q = BigQuerySource(
        query="SELECT * FROM d.t WHERE date_trans >= '2024-01-01'",
        materialization_dataset="scratch",
        views_enabled=True,
    )
    opts = q.reader_options()
    assert opts["materializationDataset"] == "scratch"
    assert opts["viewsEnabled"] == "true"
    assert opts["query"].startswith("SELECT")

    with _pytest.raises(ValueError):
        BigQuerySource().reader_options()
    with _pytest.raises(ValueError):
        BigQuerySource(table="a.b", query="SELECT 1").reader_options()
    with _pytest.raises(ValueError):
        BigQuerySource(query="SELECT 1").reader_options()
