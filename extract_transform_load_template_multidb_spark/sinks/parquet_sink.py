"""Lakehouse-style parquet sink implementing the reference's four write
semantics (SURVEY.md §2.3 W1–W7) on a file path target.

On a cluster the same semantics run against a real table format; plain
parquet is used here so every mode is exercisable and testable in-container.
Writes that rewrite existing data stage into a sibling ``_staging`` directory
and atomically swap — never read-and-overwrite the same path in one job
(Spark would corrupt the source mid-scan).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from extract_transform_load_template_multidb_spark.catalog import (
    read_files,
    record_schema,
)


class ParquetSink:
    """A parquet-directory table target with the four reference write modes.

    Target reads go through ``catalog.read_files``, and an unpartitioned
    write that replaces the whole target (``overwrite``, ``_swap``) records
    the schema it wrote, so the next day's target read infers nothing.
    """

    def __init__(self, path: str, partition_by: tuple[str, ...] = ()):
        self.path = path
        self.partition_by = tuple(partition_by)

    # -- plain modes -------------------------------------------------------

    def append(self, df: DataFrame) -> None:
        """W1/W5: blind bulk append.

        Reference: ``executemany`` INSERT (``Template-to-MySQL/
        BigQuery-to-MySQL-Method-1.py:81``) / BigQuery ``WRITE_APPEND``
        (``Template-to-BigQuery/MySQL-to-BigQuery-Method-2.py:97``).
        """
        self._writer(df).mode("append").parquet(self.path)

    def overwrite(self, df: DataFrame) -> None:
        """W4: truncate-and-load.

        Reference: BigQuery ``WRITE_TRUNCATE``
        (``Template-to-BigQuery/MySQL-to-BigQuery-Method-1.py:76-79``).
        """
        self._writer(df).mode("overwrite").parquet(self.path)
        self._record(df)

    # -- windowed modes ----------------------------------------------------

    def retention_append(
        self, df: DataFrame, col: str, cutoff, spark: SparkSession
    ) -> None:
        """W3/W6 + append: delete target rows with ``col < cutoff``, then
        blind-append ``df``.

        Faithful to the reference Method-2 semantics (``DELETE ... WHERE
        date_trans < DATE_SUB(...)`` then append, ``Template-to-BigQuery/
        MySQL-to-BigQuery-Method-2.py:75-78,94-97``) — deliberately NOT
        idempotent: re-running duplicates the recent window. Use
        :meth:`window_overwrite` for the safe variant.
        """
        if self._exists():
            kept = read_files(spark, self.path).filter(F.col(col) >= F.lit(cutoff))
            self._swap(kept.unionByName(df, allowMissingColumns=False))
        else:
            self.append(df)

    def window_overwrite(
        self, df: DataFrame, col: str, cutoff, spark: SparkSession
    ) -> None:
        """W7: idempotent window reload — replace target rows with
        ``col >= cutoff`` by ``df`` (which holds the re-extracted window).

        Reference: ``Template-to-BigQuery/Dynamics365-to-BigQuery-Method-2.py:86-91``.
        Equivalent to Delta's ``replaceWhere``; at scale, partition the
        target by date and this becomes dynamic partition overwrite with no
        full rewrite of history.
        """
        if self._exists():
            old = read_files(spark, self.path).filter(F.col(col) < F.lit(cutoff))
            self._swap(old.unionByName(df.filter(F.col(col) >= F.lit(cutoff))))
        else:
            self.overwrite(df)

    def upsert(self, df: DataFrame, keys: tuple[str, ...], spark: SparkSession) -> None:
        """W2 on a file target: new rows win on key collision.

        Reference semantics: ``INSERT ... ON DUPLICATE KEY UPDATE``
        (``Template-to-MySQL/PgSQL-to-MySQL-Method-1.py:77-81``). Expressed
        as target-anti-join-source ∪ source. Duplicate keys in the source
        do not change an anti join's result, so they are not de-duplicated
        first (that would add an aggregate shuffle). A large source makes
        the anti join shuffle on the key — at 100 TB, bucket the target by
        the key so the join is co-located, or use a MERGE-capable table
        format. It reads ``df`` twice within its single write (keys for the
        anti join, rows for the union): for a file source that is one
        snapshot, but a source that can change during the write should be
        staged first.
        """
        if self._exists():
            target = read_files(spark, self.path)
            kept = target.join(df.select(*keys), list(keys), "left_anti")
            self._swap(kept.unionByName(df))
        else:
            self.overwrite(df)

    def merge_aggregate(
        self,
        delta: DataFrame,
        group_cols: tuple[str, ...],
        spark: SparkSession,
    ) -> None:
        """Incremental materialized-view merge: re-aggregate
        (current MV ∪ delta partial aggregates) by ``group_cols``.

        Every non-group column of ``delta`` must be a mergeable partial
        (count / sum monoids — SUM combines both), which is what makes
        incremental view maintenance sound: merge(MV, partial(delta)) ==
        full recompute, proven by the ``etl_mv_incremental_refresh``
        oracle. The MV stays aggregate-sized — history is never
        rescanned, the refresh cost is O(|delta| + |MV|).
        """
        sum_cols = [c for c in delta.columns if c not in group_cols]
        merged = delta
        existed = self._exists()
        if existed:
            merged = read_files(spark, self.path).unionByName(delta)
        merged = merged.groupBy(*group_cols).agg(
            *[F.sum(c).alias(c) for c in sum_cols]
        )
        if existed:
            self._swap(merged)
        else:
            self.overwrite(merged)

    # -- helpers -----------------------------------------------------------

    def _writer(self, df: DataFrame):
        w = df.write
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        return w

    def _record(self, df: DataFrame) -> None:
        """After ``df`` has replaced the whole target: a fresh inference of
        the target returns ``df``'s schema, so store it. A partitioned
        layout moves its partition columns last and is never memoized."""
        if not self.partition_by:
            record_schema(df.sparkSession, self.path, df.schema)

    def _exists(self) -> bool:
        """Whether the target holds data: part files, a ``_SUCCESS`` marker
        or Hive-style ``name=value`` partition directories (pyarrow's
        ``write_to_dataset`` and Spark with ``marksuccessfuljobs=false``
        write those with no marker)."""
        if not os.path.isdir(self.path):
            return False
        with os.scandir(self.path) as it:
            return any(
                e.name.endswith(".parquet")
                or e.name == "_SUCCESS"
                or e.name.startswith("p")
                or ("=" in e.name and e.is_dir())
                for e in it
            )

    def _swap(self, df: DataFrame) -> None:
        """Materialize ``df`` into a staging dir, then replace the target.

        ``df`` may read from ``self.path``, so it must be fully written
        before the target is touched.

        Durability limits (local-FS sink only): the two renames are each
        atomic but the pair is not — a crash between them leaves the target
        path missing with the data intact in the stable ``<path>_old``
        backup dir (recovery: rename it back). The backup is deleted only
        after the staging rename succeeds — and a leftover backup from a
        PREVIOUS crashed swap makes this method refuse to run rather than
        silently destroy the only copy of un-recovered data (it would
        also race a concurrent swap on the same path). ``os.rename``
        restricts this sink to a local POSIX filesystem; on a cluster use
        a table format (Delta/Iceberg) whose commit protocol does this
        transactionally.
        """
        staging = f"{self.path}_staging_{uuid.uuid4().hex[:8]}"
        self._writer(df).mode("overwrite").parquet(staging)
        backup = f"{self.path}_old"
        if os.path.isdir(backup):
            shutil.rmtree(staging)
            raise RuntimeError(
                f"refusing to swap {self.path!r}: backup dir {backup!r} "
                "already exists — a previous swap crashed mid-rename (or "
                "another swap is in flight). Inspect it; restore with "
                f"`mv {backup} {self.path}` if the target is missing, or "
                "delete it once confirmed stale, then retry."
            )
        os.rename(self.path, backup)
        os.rename(staging, self.path)
        shutil.rmtree(backup)
        self._record(df)
