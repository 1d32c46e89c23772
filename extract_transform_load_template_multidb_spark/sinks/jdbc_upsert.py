"""Distributed JDBC/DB-API upsert writer (reference W2).

Spark's JDBC writer has no upsert mode; the reference does it row-at-a-time
on the driver (``Template-to-MySQL/PgSQL-to-MySQL-Method-1.py:76-82`` —
``df.iterrows()`` + per-row ``execute``). Here each *partition* opens one
connection and issues batched multi-row upserts via ``executemany`` —
distributed across executors, batched like the reference's faster W1 path
(``SQLServer-to-MySQL-Method-1.py:82``), with per-dialect conflict clauses.

The connection factory is injectable (any DB-API 2.0 connection) so the
writer is testable against SQLite in-container and runs against
MySQL/PostgreSQL in production unchanged.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, Row

DIALECTS = ("mysql", "postgresql", "sqlite", "sqlserver")


def upsert_sql(
    table: str,
    columns: list[str],
    keys: list[str],
    dialect: str = "mysql",
    placeholder: str = "%s",
) -> str:
    """Render the dialect-specific single-statement upsert.

    mysql      → INSERT ... ON DUPLICATE KEY UPDATE col=VALUES(col)
                 (exactly the reference's statement shape,
                 ``PgSQL-to-MySQL-Method-1.py:77-81``)
    postgresql → INSERT ... ON CONFLICT (keys) DO UPDATE SET col=EXCLUDED.col
    sqlite     → same as postgresql (ON CONFLICT syntax), '?' placeholders
    sqlserver  → MERGE INTO t WITH (HOLDLOCK) USING (VALUES ...) AS src
                 ON key-match WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT
                 (T-SQL has no ON CONFLICT; HOLDLOCK closes the classic
                 MERGE race where two concurrent upserts both miss the
                 match and double-insert)

    When every column is a key there is nothing to update on conflict; the
    dialect's no-op form is emitted instead (MySQL: ``key=key`` assignment —
    an empty UPDATE list is a syntax error; PG/SQLite: ``DO NOTHING``;
    SQL Server: the WHEN MATCHED branch is dropped), so the statement stays
    valid and the upsert degrades to insert-if-absent.
    """
    if dialect not in DIALECTS:
        raise ValueError(f"unknown dialect {dialect!r}; supported: {DIALECTS}")
    non_keys = [c for c in columns if c not in keys]
    cols_sql = ", ".join(columns)
    vals_sql = ", ".join([placeholder] * len(columns))
    if dialect == "sqlserver":
        on_sql = " AND ".join(f"tgt.{k}=src.{k}" for k in keys)
        matched = ""
        if non_keys:
            sets = ", ".join(f"tgt.{c}=src.{c}" for c in non_keys)
            matched = f" WHEN MATCHED THEN UPDATE SET {sets}"
        src_cols = ", ".join(f"src.{c}" for c in columns)
        return (
            f"MERGE INTO {table} WITH (HOLDLOCK) AS tgt "
            f"USING (VALUES ({vals_sql})) AS src ({cols_sql}) "
            f"ON {on_sql}{matched} "
            f"WHEN NOT MATCHED THEN INSERT ({cols_sql}) "
            f"VALUES ({src_cols});"
        )
    base = f"INSERT INTO {table} ({cols_sql}) VALUES ({vals_sql})"
    if dialect == "mysql":
        if not non_keys:
            k = keys[0]
            return f"{base} ON DUPLICATE KEY UPDATE {k}={k}"
        sets = ", ".join(f"{c}=VALUES({c})" for c in non_keys)
        return f"{base} ON DUPLICATE KEY UPDATE {sets}"
    keys_sql = ", ".join(keys)
    if not non_keys:
        return f"{base} ON CONFLICT ({keys_sql}) DO NOTHING"
    sets = ", ".join(f"{c}=EXCLUDED.{c}" for c in non_keys)
    return f"{base} ON CONFLICT ({keys_sql}) DO UPDATE SET {sets}"


class JdbcUpsertWriter:
    """Upsert a DataFrame into a relational table, one connection per
    partition, ``batch_size`` rows per ``executemany``.

    ``connection_factory`` must be picklable (top-level function or
    ``functools.partial``) — it runs inside executor Python workers.

    Each partition is one Python task, and a task's fixed cost before its
    first row is Python-worker set-up: 130-250 ms (median ~200 ms, warm,
    ``local[4]``) under pyspark's own daemon, which re-reads its zip
    archives and waits out a delayed ACK on every task, and 20-50 ms
    (median ~30 ms) under the engine's ``worker_daemon``, which sessions
    built by ``session.get_spark`` use. On a small delta that set-up is
    most of the write.
    """

    def __init__(
        self,
        connection_factory: Callable[[], object],
        table: str,
        keys: list[str],
        dialect: str = "mysql",
        batch_size: int = 1000,
        placeholder: str | None = None,
    ):
        self.connection_factory = connection_factory
        self.table = table
        self.keys = list(keys)
        self.dialect = dialect
        self.batch_size = batch_size
        # sqlite + sqlserver(pyodbc) are qmark-style DB-API drivers.
        self.placeholder = placeholder or (
            "?" if dialect in ("sqlite", "sqlserver") else "%s"
        )

    def write(self, df: DataFrame) -> int:
        """Upsert ``df`` and return the number of rows upserted, counted
        by the partitions themselves in the same single job."""
        columns = list(df.columns)
        sql = upsert_sql(
            self.table, columns, self.keys, self.dialect, self.placeholder
        )
        factory = self.connection_factory
        batch_size = self.batch_size

        def _write_partition(rows: Iterator[Row]) -> Iterator[int]:
            n = 0
            conn = factory()
            try:
                cur = conn.cursor()
                batch: list[tuple] = []
                for row in rows:
                    batch.append(tuple(row[c] for c in columns))
                    n += 1
                    if len(batch) >= batch_size:
                        cur.executemany(sql, batch)
                        batch.clear()
                if batch:
                    cur.executemany(sql, batch)
                conn.commit()
            finally:
                conn.close()
            yield n

        return df.rdd.mapPartitions(_write_partition).sum()


def execute_sink_sql(
    connection_factory: Callable[[], object], statements: Iterable[str]
) -> None:
    """Run sink-side DDL/DELETE statements (reference W3/W6/W8) on the
    target database — e.g. a retention ``DELETE FROM t WHERE date_trans <
    ...`` (``Template-to-MySQL/BigQuery-to-MySQL-Method-2.py:77``) before an
    append. Driver-side, one connection, transactional."""
    conn = connection_factory()
    try:
        cur = conn.cursor()
        for stmt in statements:
            cur.execute(stmt)
        conn.commit()
    finally:
        conn.close()
