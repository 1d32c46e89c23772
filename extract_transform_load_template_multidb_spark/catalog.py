"""Fixture-table catalog: load the driver-generated parquet tables.

The reference's only data abstraction is a flat relational table snapshot
(pandas DataFrame, e.g. reference ``Template-to-MySQL/
BigQuery-to-MySQL-Method-1.py:57``); here it is a lazy distributed
``pyspark.sql.DataFrame`` read straight from parquet with column pruning and
predicate pushdown left to Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from extract_transform_load_template_multidb_spark.session import ensure_conf

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
# driver-latency bound). Keyed by session identity (object kept alive, so a
# collected session can't alias), path, and the parquet file set's
# (mtime_ns, size) so a rewritten fixture can never be served a stale file
# listing. Every action on the cached handle still scans parquet — nothing
# computed is stored.
_TABLE_CACHE: dict = {}


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
    key = (id(spark), path, _path_stamp(path))
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if len(_TABLE_CACHE) > 512:  # bound: many test sessions/tmp fixtures
        _TABLE_CACHE.clear()
    _TABLE_CACHE[key] = (spark, df)
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
