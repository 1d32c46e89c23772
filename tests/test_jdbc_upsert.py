"""Distributed DB-API upsert writer against SQLite (reference W2).

SQLite stands in for MySQL/PostgreSQL — same DB-API surface, runs
in-container; the dialect SQL strings themselves are golden-tested.
"""

from __future__ import annotations

import functools
import os
import sqlite3

from pyspark.sql import Row

from extract_transform_load_template_multidb_spark.sinks import (
    JdbcUpsertWriter,
    upsert_sql,
)
from extract_transform_load_template_multidb_spark.sinks.jdbc_upsert import (
    execute_sink_sql,
)


def _connect(path: str):
    # timeout: executor workers serialize on sqlite's file lock
    return sqlite3.connect(path, timeout=60)


def test_upsert_sql_mysql_matches_reference_shape():
    sql = upsert_sql("your_table", ["id", "col1", "col2"], ["id"], "mysql")
    assert sql == (
        "INSERT INTO your_table (id, col1, col2) VALUES (%s, %s, %s) "
        "ON DUPLICATE KEY UPDATE col1=VALUES(col1), col2=VALUES(col2)"
    )


def test_upsert_sql_postgresql():
    sql = upsert_sql("t", ["id", "a"], ["id"], "postgresql")
    assert sql == (
        "INSERT INTO t (id, a) VALUES (%s, %s) "
        "ON CONFLICT (id) DO UPDATE SET a=EXCLUDED.a"
    )


def test_upsert_sql_sqlserver_merge():
    sql = upsert_sql("t", ["id", "a", "b"], ["id"], "sqlserver", "?")
    assert sql == (
        "MERGE INTO t WITH (HOLDLOCK) AS tgt "
        "USING (VALUES (?, ?, ?)) AS src (id, a, b) "
        "ON tgt.id=src.id "
        "WHEN MATCHED THEN UPDATE SET tgt.a=src.a, tgt.b=src.b "
        "WHEN NOT MATCHED THEN INSERT (id, a, b) "
        "VALUES (src.id, src.a, src.b);"
    )


def test_upsert_sql_sqlserver_composite_key_and_qmark_default():
    # Writer default placeholder for sqlserver is qmark (pyodbc).
    w = JdbcUpsertWriter(lambda: None, "t", keys=["k1", "k2"],
                         dialect="sqlserver")
    assert w.placeholder == "?"
    sql = upsert_sql("s.t", ["k1", "k2", "v"], ["k1", "k2"], "sqlserver", "?")
    assert "ON tgt.k1=src.k1 AND tgt.k2=src.k2" in sql
    assert "UPDATE SET tgt.v=src.v" in sql


def test_upsert_sql_sqlserver_all_keys_drops_matched_branch():
    sql = upsert_sql("t", ["a", "b"], ["a", "b"], "sqlserver", "?")
    assert "WHEN MATCHED" not in sql
    assert sql == (
        "MERGE INTO t WITH (HOLDLOCK) AS tgt "
        "USING (VALUES (?, ?)) AS src (a, b) "
        "ON tgt.a=src.a AND tgt.b=src.b "
        "WHEN NOT MATCHED THEN INSERT (a, b) "
        "VALUES (src.a, src.b);"
    )


def test_jdbc_upsert_roundtrip(spark, tmp_path):
    db = os.path.join(tmp_path, "target.db")
    factory = functools.partial(_connect, db)
    execute_sink_sql(
        factory,
        ["CREATE TABLE your_table (id INTEGER PRIMARY KEY, col1 TEXT, col2 REAL)"],
    )
    writer = JdbcUpsertWriter(
        factory, "your_table", keys=["id"], dialect="sqlite", batch_size=2
    )
    df1 = spark.createDataFrame(
        [Row(id=i, col1=f"v{i}", col2=float(i)) for i in range(10)]
    ).repartition(4)
    assert writer.write(df1) == 10
    # Key collisions update, new keys insert.
    df2 = spark.createDataFrame(
        [Row(id=5, col1="updated", col2=50.0), Row(id=42, col1="new", col2=1.0)]
    )
    assert writer.write(df2) == 2
    con = factory()
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in con.execute("SELECT id, col1, col2 FROM your_table")
    )
    con.close()
    assert len(rows) == 11
    assert rows[5] == ("updated", 50.0)
    assert rows[42] == ("new", 1.0)
    assert rows[3] == ("v3", 3.0)


def test_execute_sink_sql_retention_delete(spark, tmp_path):
    db = os.path.join(tmp_path, "t.db")
    factory = functools.partial(_connect, db)
    execute_sink_sql(
        factory,
        [
            "CREATE TABLE t (id INTEGER PRIMARY KEY, date_trans TEXT)",
            "INSERT INTO t VALUES (1, '2024-01-01'), (2, '2024-03-05')",
            "DELETE FROM t WHERE date_trans < '2024-03-01'",
        ],
    )
    con = factory()
    assert [r[0] for r in con.execute("SELECT id FROM t")] == [2]
    con.close()


def test_upsert_sql_all_columns_are_keys():
    """Every column a key → dialect no-op conflict form, still valid SQL."""
    from extract_transform_load_template_multidb_spark.sinks.jdbc_upsert import (
        upsert_sql,
    )

    my = upsert_sql("t", ["a", "b"], ["a", "b"], "mysql")
    assert my.endswith("ON DUPLICATE KEY UPDATE a=a")
    pg = upsert_sql("t", ["a", "b"], ["a", "b"], "postgresql")
    assert pg.endswith("ON CONFLICT (a, b) DO NOTHING")
    sq = upsert_sql("t", ["a", "b"], ["a", "b"], "sqlite", placeholder="?")
    assert sq.endswith("ON CONFLICT (a, b) DO NOTHING")
    # and sqlite actually accepts + executes it
    import sqlite3

    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (a INTEGER, b INTEGER, PRIMARY KEY (a, b))")
    con.executemany(sq, [(1, 2), (1, 2), (3, 4)])
    assert sorted(con.execute("SELECT * FROM t")) == [(1, 2), (3, 4)]
