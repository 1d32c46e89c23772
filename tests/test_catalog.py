"""Sentinel tests for the fixture catalog's type normalization.

The driver-generated ``events.parquet`` stores ``ts`` as TIMESTAMP(NANOS),
which different Spark versions surface differently (bigint ``nanosAsLong``
on ≤3.5 defaults, TIMESTAMP_NTZ on 4.x). The engine contract is that
``load_table`` always hands consumers a session-zoned TIMESTAMP — the type
``unix_micros`` and ``withWatermark`` require. These tests catch the next
environment shift in the suite instead of the correctness driver
(round-4 regression: pyspark 4.1.2 NTZ broke ``window_lead_lag`` + 4
streaming tests).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from extract_transform_load_template_multidb_spark.catalog import (
    TABLES,
    load_table,
)


def test_events_ts_is_session_timestamp(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert ev.schema["ts"].dataType == TimestampType()
    # unix_micros is the canary expression that broke under NTZ.
    row = ev.select(F.max(F.unix_micros("ts")).alias("m")).first()
    assert row["m"] is not None


def test_all_tables_load(spark, sf_dir):
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        assert len(df.schema.fields) > 0, name


def test_load_table_sees_part_file_rewritten_in_place(spark, tmp_path):
    """Overwriting a directory table's part file under the same name leaves
    the directory's mtime unchanged; the handle memo must still notice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "t.parquet" / "part-00000.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"x": list(range(10))}), part)
    first = load_table(spark, str(tmp_path), "t")
    assert first.count() == 10

    # Other rows and a new column: a stale handle keeps the old schema.
    pq.write_table(
        pa.table({"x": list(range(100, 125)), "y": ["n"] * 25}), part
    )
    again = load_table(spark, str(tmp_path), "t")
    assert again.columns == ["x", "y"]
    assert sorted(r["x"] for r in again.collect()) == list(range(100, 125))
