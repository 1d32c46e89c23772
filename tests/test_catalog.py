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

import os
from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row, functions as F
from pyspark.sql.types import TimestampType

from extract_transform_load_template_multidb_spark import catalog, session
from extract_transform_load_template_multidb_spark.catalog import (
    TABLES,
    load_table,
    read_files,
)
from extract_transform_load_template_multidb_spark.sources import FileSource


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


# -- the schema memo (read_files / record_schema) ------------------------------


def _memo_paths() -> set:
    return {key[2] for key in catalog._SCHEMA_MEMO}


_FORMATS = {
    "parquet": ({}, {}),
    "json": ({}, {}),
    "csv": ({"header": "true"}, {"header": "true", "inferSchema": "true"}),
    "orc": ({}, {}),
}


@pytest.mark.parametrize("fmt", sorted(_FORMATS))
def test_file_source_memo_hit_equals_inference_and_runs_no_job(
    spark, tmp_path, count_jobs, fmt
):
    write_opts, read_opts = _FORMATS[fmt]
    path = str(tmp_path / fmt)
    spark.range(20).select(
        "id",
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("t"),
    ).write.format(fmt).options(**write_opts).save(path)

    src = FileSource(path, format=fmt, options=read_opts)
    src.read(spark)
    assert path in _memo_paths()
    hit, jobs = count_jobs(lambda: src.read(spark))
    assert jobs == 0
    fresh = spark.read.format(fmt).options(**read_opts).load(path)
    assert hit.schema.json() == fresh.schema.json()
    assert sorted(hit.collect()) == sorted(fresh.collect())


def test_read_files_memoizes_nothing_the_stamp_cannot_see(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    flat = str(tmp_path / "flat")
    spark.range(5).write.parquet(flat)
    parted = str(tmp_path / "parted")
    spark.range(6).select("id", (F.col("id") % 2).alias("k")).write.partitionBy(
        "k"
    ).parquet(parted)
    glob = flat + "/*.parquet"
    uri = "file://" + flat
    merge = {"mergeSchema": "true"}
    for path in (glob, uri, parted):
        for _ in range(2):
            got = read_files(spark, path, options=merge)
            fresh = spark.read.options(**merge).parquet(path)
            assert got.schema.json() == fresh.schema.json()
        assert path not in _memo_paths()

    # A part file rewritten in place inside a partition directory: nothing
    # was memoized, so the new column is seen.
    part = next(
        os.path.join(parted, "k=0", f)
        for f in os.listdir(os.path.join(parted, "k=0"))
        if f.endswith(".parquet")
    )
    pq.write_table(pa.table({"id": [0], "extra": ["n"]}), part)
    os.remove(os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc"))
    assert "extra" in read_files(spark, parted, options=merge).columns

    # A glob that is also a literal file name: Spark reads what the pattern
    # matches, which the literal file's stamp cannot see.
    pq.write_table(pa.table({"literal": [1]}), tmp_path / "x[1].parquet")
    pq.write_table(pa.table({"a": [1]}), tmp_path / "x1.parquet")
    pattern = str(tmp_path / "x[1].parquet")
    assert read_files(spark, pattern).columns == ["a"]
    pq.write_table(pa.table({"a": [2], "b": [3]}), tmp_path / "x1.parquet")
    assert read_files(spark, pattern).columns == ["a", "b"]
    assert pattern not in _memo_paths()

    missing = str(tmp_path / "missing")
    with pytest.raises(AnalysisException):
        read_files(spark, missing)
    assert missing not in _memo_paths()


def test_read_files_sees_a_file_rewritten_in_place(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), path)
    assert read_files(spark, path).columns == ["x"]
    assert path in _memo_paths()

    pq.write_table(pa.table({"x": [3], "y": ["n"]}), path)
    again = read_files(spark, path)
    assert again.schema.json() == spark.read.parquet(path).schema.json()
    assert again.collect() == [Row(x=3, y="n")]


def test_memos_drop_entries_of_stopped_sessions(spark, tmp_path):
    """A stub stands in for a stopped session, so the shared one stays up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    stopped = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    memos = (catalog._TABLE_CACHE, catalog._SCHEMA_MEMO, session._CONF_APPLIED)
    for memo in memos:
        memo["stale"] = (stopped, None)

    part = tmp_path / "t.parquet" / "part-00000.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"x": [1]}), part)
    load_table(spark, str(tmp_path), "t")
    read_files(spark, str(part))
    live = SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=object()),
        _jsparkSession=SimpleNamespace(sessionUUID=lambda: "live-stub"),
        conf=SimpleNamespace(set=lambda k, v: None),
    )
    try:
        session.ensure_conf(live)
        for memo in memos:
            assert "stale" not in memo
        key = session.session_key(spark)
        assert session.memo_get(session._CONF_APPLIED, key)
    finally:
        session._CONF_APPLIED.pop("live-stub", None)


def test_memo_put_is_safe_under_concurrent_inserts():
    """Threads insert into one memo while each insert scans it for stopped
    sessions: no insert may be lost, and no scan may see the memo change
    size under it."""
    import sys
    import threading

    live = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=object()))
    memo = {}
    n_threads, per_thread = 8, 50  # 400 entries, under the bound: none cleared
    errors = []

    def insert(t):
        try:
            for i in range(per_thread):
                session.memo_put(memo, (t, i), live, i)
        except Exception as exc:  # noqa: BLE001 — reported by the assert
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=insert, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(memo) == n_threads * per_thread
