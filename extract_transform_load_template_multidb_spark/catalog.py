"""Fixture-table catalog: load the driver-generated parquet tables.

The reference's only data abstraction is a flat relational table snapshot
(pandas DataFrame, e.g. reference ``Template-to-MySQL/
BigQuery-to-MySQL-Method-1.py:57``); here it is a lazy distributed
``pyspark.sql.DataFrame`` read straight from parquet with column pruning and
predicate pushdown left to Catalyst.

Two per-session memos keep repeated reads of unchanged files off the
cluster. Both are keyed by the JVM session (``session.session_key``, so
the micro-batches of a stream share entries) and by ``_path_stamp``, the
(mtime_ns, size) of a file or of a directory and its newest part, so a
rewritten file is never served a stale entry:

- ``load_table`` memoizes fixture-table handles (lazy scans, never data).
- ``read_files`` memoizes the schema a reader infers, keyed by session,
  format, path, the sorted reader options and the stamp. A hit hands the
  schema to the reader, so no inference job runs. ``record_schema`` stores
  the schema of a frame that has just replaced a parquet path whole; a read
  with it equals a fresh inference, because Spark writes the frame's schema
  into the footers and makes every column of a supplied file schema
  nullable, as the write did.
- Only a local file, or a local directory with no sub-directory, gets a
  schema entry. The stamp cannot see a glob's matches, a remote or
  ``file://`` URI (both stamp as missing) or a part file rewritten inside
  a partition directory, so those paths are inferred on every read. A path
  without a scheme is taken as local, as on a local session.

Neither memo keys on read-related session conf (``nanosAsLong``, timestamp
inference, case sensitivity): it is assumed fixed for a session's life, as
``session.ensure_conf`` sets it once. Entries of stopped sessions are
dropped on insert (``session.memo_put``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from extract_transform_load_template_multidb_spark.session import (
    ensure_conf,
    memo_get,
    memo_put,
    session_key,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Memo of table HANDLES (lazy DataFrames — unresolved scans, never data or
# results): re-running spark.read.parquet per query re-lists the directory,
# re-reads parquet footers for schema inference and (for events) re-analyzes
# the plan for the dtypes probe — pure per-query driver latency when 571
# queries each reload the same fixture tables (round-12: the tail is
# driver-latency bound). Keyed by the JVM session, path, and the parquet
# file set's (mtime_ns, size) so a rewritten fixture can never be served a
# stale file listing. Every action on the cached handle still scans
# parquet — nothing computed is stored.
_TABLE_CACHE: dict = {}

# Memo of inferred file schemas (``read_files``, ``record_schema``): a
# schema-less file read runs an inference job of its own, even for a single
# parquet footer. Without the memo that was 1.0 of the 3.1 Spark jobs of a
# warm ``perfbench`` etl_daily_load job.
_SCHEMA_MEMO: dict = {}

# Characters that make Spark treat a path as a glob pattern.
_GLOB_CHARS = frozenset("{}[]*?\\")


def _path_stamp(path: str) -> tuple:
    """(mtime_ns, size) of a parquet file or directory-of-parts.

    A part file rewritten in place leaves its directory's mtime alone, so
    a directory's stamp also carries the newest part's (mtime_ns, size).
    """
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            with os.scandir(path) as it:
                parts = {e.name: e.stat() for e in it}
            newest = max(
                ((p.st_mtime_ns, p.st_size) for p in parts.values()),
                default=(),
            )
            last = max(parts, default="")
            return (st.st_mtime_ns, len(parts), last, newest)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ("missing",)


def _flat_stamp(path: str) -> tuple | None:
    """``_path_stamp`` of a local file or of a local directory with no
    sub-directory; None for every path whose changes the stamp cannot see."""
    if _GLOB_CHARS & set(path):
        return None
    stamp = _path_stamp(path)
    if stamp == ("missing",):
        return None
    if os.path.isdir(path):
        with os.scandir(path) as it:
            if any(e.is_dir() for e in it):
                return None
    return stamp


def read_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    options: dict | None = None,
) -> DataFrame:
    """``spark.read.format(fmt).options(**options).load(path)``, with the
    inferred schema memoized under the path's stamp.

    On a hit the memoized schema is handed to the reader and no inference
    job runs; on a miss the reader infers and the schema is stored. Paths
    the stamp cannot see changes in are inferred on every read (see the
    module docstring).
    """
    options = options or {}
    reader = spark.read.format(fmt).options(**options)
    stamp = _flat_stamp(path)
    if stamp is None:
        return reader.load(path)
    opts = tuple(sorted(options.items()))
    key = (session_key(spark), fmt, path, opts, stamp)
    schema = memo_get(_SCHEMA_MEMO, key)
    if schema is not None:
        return reader.schema(schema).load(path)
    df = reader.load(path)
    memo_put(_SCHEMA_MEMO, key, spark, df.schema)
    return df


def record_schema(spark: SparkSession, path: str, schema: StructType) -> None:
    """Store ``schema`` as the parquet schema of ``path`` under its current
    stamp, for a writer that has just replaced the whole of ``path`` with a
    frame of that schema: the next ``read_files`` of it infers nothing."""
    stamp = _flat_stamp(path)
    if stamp is not None:
        key = (session_key(spark), "parquet", path, (), stamp)
        memo_put(_SCHEMA_MEMO, key, spark, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    ``events.ts`` is physically TIMESTAMP(NANOS); depending on the Spark
    version it surfaces either as long (``nanosAsLong``, pyspark ≤3.5
    default) — truncated here to microseconds with *integer* division
    (float division would lose precision above 2^53 ns and diverge from
    the DuckDB oracle's nanos→micros truncation) — or as TIMESTAMP_NTZ
    (pyspark 4.x), which we cast to session-zoned TIMESTAMP. The session
    timezone is pinned to UTC (``session.ensure_conf``), so the NTZ cast
    is value-preserving and keeps ``unix_micros``/``withWatermark``
    consumers working on every Spark version.
    """
    ensure_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (session_key(spark), path, _path_stamp(path))
    hit = memo_get(_TABLE_CACHE, key)
    if hit is not None:
        return hit
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    memo_put(_TABLE_CACHE, key, spark, df)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register each fixture table as a temp view for ``spark.sql`` queries."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
