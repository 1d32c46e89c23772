"""Slowly-changing-dimension (SCD type 2) operators.

The reference's load strategies overwrite or append (SURVEY.md §2.3) —
history is lost on every refresh. These operators add the standard
warehouse answer: type-2 dimension rows with validity intervals.

- :func:`scd2_from_history` — collapse an event/transaction history into
  SCD2 rows: one row per (key, consecutive run of equal attribute value),
  with ``valid_from`` / ``valid_to`` / ``is_current``. The classic
  gaps-and-islands rewrite: change flags via ``lag``, run ids via a
  running sum, one aggregate per run. Shuffles once on the key.
- :func:`scd2_merge` — apply a new snapshot to an existing SCD2 table:
  close out current rows whose attribute changed and append the new
  versions. Expressed as unions of narrow joins — no row-by-row MERGE
  loop; on a real table format this is one atomic MERGE statement, here
  the result frame is handed to a sink.

Both are pure DataFrame expressions, deterministic, and (for
``scd2_from_history``) oracle-checked via the equivalent window SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def scd2_from_history(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
) -> DataFrame:
    """SCD2 rows from a change history.

    Output: (key, attr value, valid_from, valid_to, is_current) where
    ``valid_from`` is the first timestamp of a run of equal values,
    ``valid_to`` the start of the next run (NULL while current). Ties on
    ``ts_col`` within a key are broken by the attribute value so runs are
    total-ordered and deterministic.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, attr_col)
    flagged = df.select(key_col, attr_col, ts_col).withColumn(
        "__chg",
        F.when(
            F.lag(attr_col).over(w).isNull()
            | (F.lag(attr_col).over(w) != F.col(attr_col)),
            1,
        ).otherwise(0),
    )
    # Peer-inclusive (RANGE) frame: identical (key, ts, attr) rows carry
    # __chg 1 and 0 in whatever order the sort leaves them, so a ROWS
    # frame could put one copy in the previous run; RANGE gives every
    # peer the same run id.
    runs = flagged.withColumn(
        "__run",
        F.sum("__chg").over(
            w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_run = runs.groupBy(key_col, "__run").agg(
        # attr is constant within a run by construction; min() keeps the
        # aggregate deterministic in any engine (first() is not).
        F.min(attr_col).alias(attr_col),
        F.min(ts_col).alias("valid_from"),
    )
    # Two runs can open on the same timestamp (two values arriving on one
    # day) — the run id breaks the tie so lead() is total-ordered.
    w_next = Window.partitionBy(key_col).orderBy("valid_from", "__run")
    return per_run.select(
        key_col,
        attr_col,
        "valid_from",
        F.lead("valid_from").over(w_next).alias("valid_to"),
        F.lead("valid_from").over(w_next).isNull().alias("is_current"),
    )


def scd2_merge(
    target: DataFrame,
    snapshot: DataFrame,
    key_col: str,
    attr_col: str,
    snapshot_ts: Column,
) -> DataFrame:
    """Merge a new full snapshot into an SCD2 target.

    Rows whose current attribute differs from the snapshot are closed
    (``valid_to`` = snapshot time, ``is_current`` = false) and a new
    current version is appended; brand-new keys get an opening row;
    unchanged and already-closed rows pass through untouched. Keys absent
    from the snapshot are left open (soft behavior — deletions are a
    policy call for the caller).
    """
    cur = target.filter(F.col("is_current"))
    hist = target.filter(~F.col("is_current"))
    # Explicit presence marker: a NULL attribute in the snapshot must stay
    # distinguishable from "key absent from the snapshot", and attribute
    # comparison must be null-safe (NULL → 'X' IS a change; NULL → NULL
    # is not).
    snap = snapshot.select(
        F.col(key_col),
        F.col(attr_col).alias("__new_attr"),
        F.lit(True).alias("__present"),
    )
    joined = cur.join(snap, key_col, "left")
    changed = F.coalesce("__present", F.lit(False)) & ~F.col(
        "__new_attr"
    ).eqNullSafe(F.col(attr_col))
    unchanged = joined.filter(~changed).select(*target.columns)
    closed = joined.filter(changed).select(
        F.col(key_col),
        F.col(attr_col),
        F.col("valid_from"),
        snapshot_ts.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = (
        joined.filter(changed)
        .select(
            F.col(key_col),
            F.col("__new_attr").alias(attr_col),
            snapshot_ts.alias("valid_from"),
            F.lit(None).cast(dict(target.dtypes)["valid_to"]).alias(
                "valid_to"
            ),
            F.lit(True).alias("is_current"),
        )
    )
    new_keys = (
        snapshot.join(target.select(key_col).distinct(), key_col, "left_anti")
        .select(
            F.col(key_col),
            F.col(attr_col),
            snapshot_ts.alias("valid_from"),
            F.lit(None).cast(dict(target.dtypes)["valid_to"]).alias(
                "valid_to"
            ),
            F.lit(True).alias("is_current"),
        )
    )
    return (
        hist.unionByName(unchanged)
        .unionByName(closed)
        .unionByName(opened)
        .unionByName(new_keys)
    )
